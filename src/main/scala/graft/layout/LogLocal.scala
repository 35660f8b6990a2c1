package graft.layout

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** DRIVER-SIDE reader for the layout's tiny metadata logs (manifest,
  * schema log, DV log): a version probe or an alive-set derivation is
  * O(files) rows of stats by design, yet reading it through
  * `spark.read.parquet` costs a full Spark job — plan, codegen, schedule,
  * exchange — per probe (plus a second footer-merge job for
  * `mergeSchema`). A layout mutation pays 3–6 such probes and a composite
  * gate pays dozens, so the fixed job cost dominates the whole layout
  * surface at bench scale.
  *
  * This reader lists the log dir and decodes every row with the parquet
  * example API on the driver — microseconds per file, zero Spark jobs —
  * and merges footer schemas by name exactly the way `mergeSchema` does.
  * Delta Lake's checkpoint/log replay makes the same call: table METADATA
  * is driver state; only DATA gets jobs.
  *
  * SCALE GUARD: the moment a log outgrows [[maxLocalBytes]] (default
  * 64 MB ≈ several hundred thousand stats rows), [[read]] returns None.
  * Unknown parquet shapes (INT96, nanos timestamps, unexpected
  * annotations) also return None rather than guess. The cap decides only
  * HOW the rows are obtained: the replay functions in [[DataLayout]]
  * (`manifestFold`, `dvFold`) then run the same fold through a Spark
  * `groupBy`/`max` and collect its O(files) result, and every metadata
  * answer is derived from that one fold on either side of the cap.
  */
private[layout] object LogLocal {

  /** Above this total log size the local path declines (None) and the
    * caller uses the distributed read. Env-tunable for clusters; the
    * system property (read per call) exists so a spec can drive a log
    * PAST the cap inside one JVM and prove the distributed fallback
    * returns identical answers — the entire 100 TB safety argument for
    * driver-local serving. */
  private def maxLocalBytes: Long =
    sys.props.get("graft.test.localLogMaxMB")
      .orElse(sys.env.get("SPARK_GRAFT_LOCAL_LOG_MAX_MB"))
      .getOrElse("64").toLong * (1L << 20)

  /** Decoded-log cache. A layout mutation pays 3–6 metadata probes and a
    * composite gate pays dozens, each re-listing AND re-decoding the same
    * unchanged log files — measured at ~25% of q_layout_maintain's wall
    * (GateProbe driver sampler). The KEY is the dir plus every visible
    * part file's (name, length, mtime): any commit adds a new file name,
    * any vacuum/re-create changes the set — the same identity Spark's own
    * file-listing cache and Delta's log replay trust. This caches the
    * DECODE of immutable metadata files only; no query result or data read
    * is ever served from it. Bounded LRU (128 log dirs — a few MB at the
    * 64 MB/log guard's worst case, typically KBs). */
  private val cacheMax = 128
  private val cache =
    new java.util.LinkedHashMap[String, (StructType, Vector[Row])](
      cacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (StructType, Vector[Row])]): Boolean =
        size() > cacheMax
    }

  private def cacheKey(dir: String, statuses: Seq[FileStatus]): String =
    statuses.map(s =>
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(dir + "\u0000", "|", "")

  /** The log dir's VISIBLE part files — Spark's file-index rule:
    * `.parquet` files whose names do not start with `_` or `.`. Every log
    * reader and vacuum's snapshot list through this one rule, so a
    * driver-staged commit (`_stage_*.parquet`, renamed into place or
    * swept at any moment) is never part of a log read. None when the dir
    * does not exist. */
  def logFiles(fs: FileSystem, dir: Path): Option[Seq[FileStatus]] =
    if (!fs.exists(dir)) None
    else Some(fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    })

  /** Spark type for a parquet primitive field; None = a shape this reader
    * does not handle (caller falls back to the distributed read). */
  private def sparkType(t: Type): Option[DataType] = {
    if (!t.isPrimitive) return None
    val p = t.asPrimitiveType()
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case BOOLEAN => Some(BooleanType)
      case FLOAT => Some(FloatType)
      case DOUBLE => Some(DoubleType)
      case INT32 => ann match {
        case null => Some(IntegerType)
        case d: DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _: DateLogicalTypeAnnotation => Some(DateType)
        case i: IntLogicalTypeAnnotation if i.getBitWidth <= 32 =>
          Some(IntegerType)
        case _ => None
      }
      case INT64 => ann match {
        case null => Some(LongType)
        case d: DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case i: IntLogicalTypeAnnotation if i.getBitWidth <= 64 => Some(LongType)
        case ts: TimestampLogicalTypeAnnotation
          if ts.getUnit == TimeUnit.MICROS || ts.getUnit == TimeUnit.MILLIS =>
          Some(TimestampType)
        case _ => None
      }
      case BINARY => ann match {
        case _: StringLogicalTypeAnnotation => Some(StringType)
        case null => Some(BinaryType)
        case d: DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case _ => None
      }
      case FIXED_LEN_BYTE_ARRAY => ann match {
        case d: DecimalLogicalTypeAnnotation =>
          Some(DecimalType(d.getPrecision, d.getScale))
        case null => Some(BinaryType)
        case _ => None
      }
      case _ => None // INT96 and friends: fall back
    }
  }

  /** Value of field `i` of `g` as the external Spark Row value for the
    * field's type (null when absent). */
  private def value(g: Group, schema: GroupType, i: Int): AnyRef = {
    if (g.getFieldRepetitionCount(i) == 0) return null
    val t = schema.getType(i).asPrimitiveType()
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    val ann = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case BOOLEAN => java.lang.Boolean.valueOf(g.getBoolean(i, 0))
      case FLOAT => java.lang.Float.valueOf(g.getFloat(i, 0))
      case DOUBLE => java.lang.Double.valueOf(g.getDouble(i, 0))
      case INT32 => ann match {
        case d: DecimalLogicalTypeAnnotation =>
          java.math.BigDecimal.valueOf(g.getInteger(i, 0).toLong, d.getScale)
        case _: DateLogicalTypeAnnotation =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(g.getInteger(i, 0).toLong))
        case _ => java.lang.Integer.valueOf(g.getInteger(i, 0))
      }
      case INT64 => ann match {
        case d: DecimalLogicalTypeAnnotation =>
          java.math.BigDecimal.valueOf(g.getLong(i, 0), d.getScale)
        case ts: TimestampLogicalTypeAnnotation =>
          val micros =
            if (ts.getUnit == TimeUnit.MICROS) g.getLong(i, 0)
            else g.getLong(i, 0) * 1000L
          val t0 = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          t0.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          t0
        case _ => java.lang.Long.valueOf(g.getLong(i, 0))
      }
      case BINARY => ann match {
        case _: StringLogicalTypeAnnotation => g.getBinary(i, 0).toStringUsingUTF8
        case d: DecimalLogicalTypeAnnotation =>
          new java.math.BigDecimal(
            new java.math.BigInteger(g.getBinary(i, 0).getBytes), d.getScale)
        case _ => g.getBinary(i, 0).getBytes
      }
      case FIXED_LEN_BYTE_ARRAY => ann match {
        case d: DecimalLogicalTypeAnnotation =>
          new java.math.BigDecimal(
            new java.math.BigInteger(g.getBinary(i, 0).getBytes), d.getScale)
        case _ => g.getBinary(i, 0).getBytes
      }
      case other => throw new IllegalStateException(s"unhandled $other")
    }
  }

  /** Read EVERY row of the log dir driver-side. Returns the merged Spark
    * schema (first file's field order, later-only fields appended — the
    * `mergeSchema` order) and the rows projected onto it (absent fields
    * null). None = dir missing, too big, or an unhandled shape; callers
    * fall back to the distributed read. Reads the given `files` when
    * non-null (a caller-held snapshot, e.g. vacuum's), else lists. */
  def read(spark: SparkSession, dir: String,
      snapshot: Option[Seq[String]] = None): Option[(StructType, Vector[Row])] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val statuses: Seq[FileStatus] = snapshot match {
        case Some(names) =>
          val fs = new Path(dir).getFileSystem(conf)
          names.map(n => fs.getFileStatus(new Path(n)))
        case None =>
          val p = new Path(dir)
          logFiles(p.getFileSystem(conf), p) match {
            case None => return None
            case Some(s) => s
          }
      }
      if (statuses.map(_.getLen).sum > maxLocalBytes) return None
      val key = cacheKey(dir, statuses)
      cache.synchronized(Option(cache.get(key))) match {
        case Some(hit) => return Some(hit)
        case None => ()
      }
      // merged schema: field order = first appearance across files
      val fields = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
      val messages = scala.collection.mutable.ArrayBuffer.empty[(Path, MessageType)]
      for (st <- statuses) {
        val in = HadoopInputFile.fromStatus(st, conf)
        val r = ParquetFileReader.open(in)
        val msg = try r.getFooter.getFileMetaData.getSchema finally r.close()
        for (t <- scala.jdk.CollectionConverters.ListHasAsScala(msg.getFields).asScala) {
          sparkType(t) match {
            case None => return None
            case Some(dt) => fields.get(t.getName) match {
              case Some(prev) if prev != dt => return None // type drift: fall back
              case Some(_) => ()
              case None => fields.put(t.getName, dt)
            }
          }
        }
        messages += ((st.getPath, msg))
      }
      val schema = StructType(fields.toSeq.map { case (n, dt) =>
        StructField(n, dt, nullable = true) })
      val names = schema.fieldNames
      val rows = Vector.newBuilder[Row]
      for ((path, msg) <- messages) {
        val idx: Array[Int] = names.map(n =>
          if (msg.containsField(n)) msg.getFieldIndex(n) else -1)
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new GroupReadSupport(), path).withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            val vals = new Array[Any](names.length)
            var i = 0
            while (i < names.length) {
              vals(i) = if (idx(i) < 0) null else value(g, msg, idx(i))
              i += 1
            }
            rows += Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
            g = reader.read()
          }
        } finally reader.close()
      }
      val out = (schema, rows.result())
      cache.synchronized(cache.put(key, out))
      Some(out)
    } catch {
      // a file vanishing mid-read (vacuum race) or any decode surprise:
      // decline; the distributed path owns the hard cases
      case _: java.io.FileNotFoundException => None
      case _: UnsupportedOperationException => None
    }

  /** Spark-max semantics for driver-side aggregation over log rows: nulls
    * ignored; orderings match Catalyst's (binary = unsigned lexicographic). */
  def maxVal(a: Any, b: Any): Any = (a, b) match {
    case (null, x) => x
    case (x, null) => x
    case (x: java.lang.Long, y: java.lang.Long) => if (x >= y) x else y
    case (x: java.lang.Integer, y: java.lang.Integer) => if (x >= y) x else y
    case (x: java.lang.Double, y: java.lang.Double) => if (x >= y) x else y
    case (x: java.lang.Float, y: java.lang.Float) => if (x >= y) x else y
    case (x: java.lang.Boolean, y: java.lang.Boolean) => if (x || !y) x else y
    case (x: String, y: String) => if (x.compareTo(y) >= 0) x else y
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      if (x.compareTo(y) >= 0) x else y
    case (x: java.sql.Date, y: java.sql.Date) => if (!x.before(y)) x else y
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => if (!x.before(y)) x else y
    case (x: Array[Byte], y: Array[Byte]) =>
      if (unsignedCompare(x, y) >= 0) x else y
    case (x, y) => throw new IllegalStateException(
      s"no max ordering for ${x.getClass} vs ${y.getClass}")
  }

  private def unsignedCompare(x: Array[Byte], y: Array[Byte]): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  private[layout] def binaryOf(b: Binary): Array[Byte] = b.getBytes

  // ---- driver-side writer (small metadata commits) ------------------------

  /** Parquet type for a Spark field; None = a type this writer does not
    * handle (caller falls back to a Spark write). Mirrors [[sparkType]]. */
  private def parquetField(f: StructField): Option[Type] = {
    import PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.Types
    val b: Option[Types.PrimitiveBuilder[PrimitiveType]] = f.dataType match {
      case BooleanType => Some(Types.optional(BOOLEAN))
      case IntegerType => Some(Types.optional(INT32))
      case LongType => Some(Types.optional(INT64))
      case FloatType => Some(Types.optional(FLOAT))
      case DoubleType => Some(Types.optional(DOUBLE))
      case StringType => Some(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()))
      case BinaryType => Some(Types.optional(BINARY))
      case DateType => Some(Types.optional(INT32)
        .as(LogicalTypeAnnotation.dateType()))
      case TimestampType => Some(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS)))
      case d: DecimalType => Some(Types.optional(
          PrimitiveType.PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY).length(16)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)))
      case _ => None
    }
    b.map(_.named(f.name))
  }

  /** 16-byte two's-complement big-endian encoding of a decimal's unscaled
    * value — the FLBA(16) layout Spark itself writes for DecimalType(38). */
  private def decimalBytes(d: java.math.BigDecimal, scale: Int): Array[Byte] = {
    val unscaled = d.setScale(scale).unscaledValue()
    val raw = unscaled.toByteArray
    require(raw.length <= 16, s"decimal too wide for FLBA(16): $d")
    val out = new Array[Byte](16)
    val sign: Byte = if (unscaled.signum() < 0) -1 else 0
    java.util.Arrays.fill(out, 0, 16 - raw.length, sign)
    System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
    out
  }

  /** Write `rows` as ONE parquet file at `dest`, entirely on the driver —
    * the metadata-commit twin of [[read]]. A manifest commit is O(files)
    * stats rows; pushing it through a Spark write costs a full
    * plan/schedule/FileFormatWriter/commit-protocol cycle per version.
    * Returns false (writing nothing) when the schema holds a type outside
    * the supported matrix — the caller keeps the Spark write. */
  def writeLocal(spark: SparkSession, schema: StructType, rows: Seq[Row],
      dest: Path): Boolean = {
    val fields: Array[Option[Type]] = schema.fields.map(parquetField)
    if (fields.exists(_.isEmpty)) return false
    val msg = new MessageType("spark_schema",
      java.util.Arrays.asList(fields.map(_.get): _*))
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(dest, conf))
      .withConf(conf)
      .withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    try {
      for (r <- rows) {
        val g = factory.newGroup()
        var i = 0
        while (i < schema.fields.length) {
          if (!r.isNullAt(i)) {
            val name = schema.fields(i).name
            schema.fields(i).dataType match {
              case BooleanType => g.append(name, r.getBoolean(i))
              case IntegerType => g.append(name, r.getInt(i))
              case LongType => g.append(name, r.getLong(i))
              case FloatType => g.append(name, r.getFloat(i))
              case DoubleType => g.append(name, r.getDouble(i))
              case StringType => g.append(name, r.getString(i))
              case BinaryType => g.append(name,
                Binary.fromConstantByteArray(r.getAs[Array[Byte]](i)))
              case DateType => g.append(name,
                r.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
              case TimestampType =>
                val t = r.getAs[java.sql.Timestamp](i)
                g.append(name,
                  Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
              case d: DecimalType => g.append(name,
                Binary.fromConstantByteArray(
                  decimalBytes(r.getAs[java.math.BigDecimal](i), d.scale)))
              case other => throw new IllegalStateException(s"unreachable: $other")
            }
          }
          i += 1
        }
        writer.write(g)
      }
    } finally writer.close()
    true
  }

  // ---- single-row metadata dirs (view and replica definitions) -----------

  private val ListSep = "\u0001"

  /** Replace the one-row metadata dir `dir` with `values` (name → String,
    * Long or Seq[String]), written on the driver. A Seq[String] is stored
    * \\u0001-joined, so the row is all primitives — the shape
    * [[writeLocal]] supports. Single-writer metadata: the delete-then-write
    * window is the one an overwrite has. */
  def writeMetaRow(spark: SparkSession, dir: String,
      values: Seq[(String, Any)]): Unit = {
    val flat = values.map {
      case (n, l: Seq[_]) => (n, l.mkString(ListSep))
      case other => other
    }
    val schema = StructType(flat.map {
      case (n, _: Long) => StructField(n, LongType)
      case (n, _) => StructField(n, StringType)
    })
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    require(writeLocal(spark, schema, Seq(Row.fromSeq(flat.map(_._2))),
      new Path(p, s"part-local-${java.util.UUID.randomUUID.toString.take(12)}.parquet")),
      s"metadata row not writable: $schema")
  }

  /** The one row of a metadata dir, by column name. Rows written before
    * the \\u0001 spelling hold arrays, which [[read]] declines; those go
    * through a Spark read. */
  def readMetaRow(spark: SparkSession, dir: String): Map[String, Any] = {
    val (schema, r) = read(spark, dir) match {
      case Some((s, rows)) if rows.nonEmpty => (s, rows.head)
      case _ =>
        val df = spark.read.parquet(dir)
        (df.schema, df.head())
    }
    schema.fieldNames.zip(r.toSeq).toMap
  }

  /** A list column of [[readMetaRow]]: \\u0001-joined or an array. */
  def metaList(v: Any): Seq[String] = v match {
    case s: String => s.split(ListSep).toSeq
    case a: scala.collection.Seq[_] => a.map(_.toString).toSeq
    case other => throw new IllegalStateException(s"unreadable metadata list: $other")
  }
}

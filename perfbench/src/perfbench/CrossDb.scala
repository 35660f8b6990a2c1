package perfbench

import org.apache.spark.sql.Row

import graft.api.Graft
import graft.diff.TableSegment
import graft.sources.{DerbyProfile, JdbcEngine, PushdownDiffer, PushdownStats, RemoteRemoteDiffer, RemoteTable}

/** Expected outcome of a diff: row counts per sign and the fingerprint of
  * the (sign, key) multiset. */
final case class Expected(minus: Long, plus: Long, keys: KeySetHash)

object DiffCheck {
  /** A key value as the diff renders it (typed, or normalized text). */
  def canon(v: Any): String = v match {
    case n: java.lang.Number => n.longValue.toString
    case s => new java.math.BigDecimal(s.toString.trim).longValueExact.toString
  }

  def observe(rows: Array[Row], keys: Seq[String]): Expected = {
    val fp = new KeySetHash
    var minus, plus = 0L
    rows.foreach { r =>
      val sign = r.getAs[String]("sign")
      if (sign == "-") minus += 1 else plus += 1
      fp.add((sign +: keys.map(k => canon(r.get(r.fieldIndex(k))))).mkString("|"))
    }
    Expected(minus, plus, fp)
  }
}

/** `crossdb_sparse`: `lineitem` as local parquet and in two embedded Derby
  * databases, A clean and B damaged in one new seeded key range per op.
  * Ops alternate local↔B (pushdown) and A↔B (remote↔remote), calling the
  * public steps of `Graft.diffPushdownIntrospected` / `Graft.diffRemotes`
  * so the returned PushdownStats are kept. The paper's headline case. */
final class CrossDbSparse(ctx: Ctx) extends Workload(ctx) {
  import ctx.{scale, seed, spark}
  val block: Seq[String] = Seq("local_remote", "remote_remote")
  def prefixOps: Int = 8
  def warmupOps: Int = 4

  private val orders = scale.crossdbOrders
  private val totalRows = Lineitem.count(seed, orders)
  private var round = 0
  private var engA: JdbcEngine = _
  private var engB: JdbcEngine = _
  private var countedA: CountingEngine = _
  private var countedB: CountingEngine = _
  private var localPath: String = _
  private var local: TableSegment = _
  /** The range of orders B currently has damaged, [lo, hi). */
  private var damaged: Option[(Long, Long)] = None
  private var bRows = totalRows

  private def url(side: String) = s"jdbc:derby:memory:perfbench_${side}_$round"

  def setup(): Unit = {
    dropDatabases()
    round += 1
    localPath = s"${ctx.scratch}/crossdb/local_$round.parquet"
    Lineitem.frame(spark, seed, orders).write.parquet(localPath)
    local = TableSegment(spark.read.parquet(localPath), Lineitem.Keys)
    engA = load("a")
    engB = load("b")
    countedA = new CountingEngine(engA, "derby_a", ctx.tracer)
    countedB = new CountingEngine(engB, "derby_b", ctx.tracer)
    damaged = None
    bRows = totalRows
  }

  private def load(side: String): JdbcEngine = {
    val conn = java.sql.DriverManager.getConnection(url(side) + ";create=true")
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE LINEITEM (\"l_orderkey\" BIGINT NOT NULL, " +
        "\"l_linenumber\" INTEGER NOT NULL, \"l_partkey\" BIGINT, \"l_suppkey\" BIGINT, " +
        "\"l_quantity\" DOUBLE, \"l_extendedprice\" DOUBLE, \"l_discount\" DOUBLE, " +
        "\"l_tax\" DOUBLE, \"l_returnflag\" VARCHAR(1), \"l_linestatus\" VARCHAR(1), " +
        "\"l_shipdate\" TIMESTAMP, PRIMARY KEY (\"l_orderkey\", \"l_linenumber\"))")
      st.close()
      insert(conn, (0L until orders).iterator.flatMap(o => Lineitem.orderRows(seed, o)))
    } finally conn.close()
    new JdbcEngine(url(side), new java.util.Properties(), DerbyProfile)
  }

  private def insert(conn: java.sql.Connection, rows: Iterator[Line]): Unit = {
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement("INSERT INTO LINEITEM VALUES (?,?,?,?,?,?,?,?,?,?,?)")
    try {
      var n = 0
      rows.foreach { r =>
        ps.setLong(1, r.l_orderkey); ps.setInt(2, r.l_linenumber)
        ps.setLong(3, r.l_partkey); ps.setLong(4, r.l_suppkey)
        ps.setDouble(5, r.l_quantity); ps.setDouble(6, r.l_extendedprice)
        ps.setDouble(7, r.l_discount); ps.setDouble(8, r.l_tax)
        ps.setString(9, r.l_returnflag); ps.setString(10, r.l_linestatus)
        ps.setTimestamp(11, r.l_shipdate)
        ps.addBatch()
        n += 1
        if (n % 2000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally ps.close()
  }

  /** Damage for one op: in a seeded range of orders, about a sixth of the
    * rows deleted, a sixth updated, and one new line inserted into a
    * quarter of the orders — 0.1–1% of all keys changed in total. */
  private final case class Damage(lo: Long, hi: Long, rows: Seq[Line], expected: Expected)

  private def damage(kind: String, opSeed: Long): Damage = {
    val (size, at) = nextPoint(kind)
    val changedKeys = totalRows * (0.001 + 0.009 * size)
    val width = math.max(1L, math.min(orders / 2, math.round(changedKeys / 1.6)))
    val lo = (at * (orders - width)).toLong
    val fp = new KeySetHash
    var minus, plus = 0L
    val rows = (lo until lo + width).flatMap { o =>
      val kept = Lineitem.orderRows(seed, o).flatMap { r =>
        Hash.below(Hash(opSeed, 3, o, r.l_linenumber), 6) match {
          case 0 =>
            minus += 1; fp.add(s"-|$o|${r.l_linenumber}"); None
          case 1 =>
            minus += 1; plus += 1
            fp.add(s"-|$o|${r.l_linenumber}"); fp.add(s"+|$o|${r.l_linenumber}")
            Some(Lineitem.row(seed, o, r.l_linenumber, 1 + Hash.below(Hash(opSeed, 4, o), 3).toInt))
          case _ => Some(r)
        }
      }
      val added =
        if (Hash.below(Hash(opSeed, 5, o), 4) == 0) {
          plus += 1; fp.add(s"+|$o|${Lineitem.MaxLine + 1}")
          Seq(Lineitem.row(seed, o, Lineitem.MaxLine + 1))
        } else Nil
      kept ++ added
    }
    Damage(lo, lo + width, rows, Expected(minus, plus, fp))
  }

  /** Rewrites B's orders in [lo, hi) to `rows` (outside any timed span). */
  private def rewriteB(lo: Long, hi: Long, rows: Seq[Line]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url("b"))
    try {
      val st = conn.createStatement()
      conn.setAutoCommit(false)
      val gone = st.executeUpdate(
        s"DELETE FROM LINEITEM WHERE \"l_orderkey\" >= $lo AND \"l_orderkey\" < $hi")
      st.close()
      insert(conn, rows.iterator)
      bRows += rows.size - gone
    } finally conn.close()
  }

  def run(i: Int, kind: String, opSeed: Long): OpRecord = {
    damaged.foreach { case (lo, hi) =>
      rewriteB(lo, hi, (lo until hi).flatMap(o => Lineitem.orderRows(seed, o)))
    }
    val d = damage(kind, opSeed)
    rewriteB(d.lo, d.hi, d.rows)
    damaged = Some((d.lo, d.hi))

    val ((rows, stats), wall) = timed(i, kind) {
      val (df, stats) = kind match {
        case "local_remote" =>
          val remote = call("RemoteTable.introspect", "sources") {
            RemoteTable.introspect(countedB, "LINEITEM", Lineitem.Keys, Lineitem.Compare)
          }
          val (l, r) = call("Graft.alignPrecision", "api")(Graft.alignPrecision(local, remote))
          call("PushdownDiffer.diffWithStats", "sources") {
            PushdownDiffer.diffWithStats(l, r, scale.bisectionFactor, scale.bisectionThreshold)
          }
        case "remote_remote" =>
          val a = call("RemoteTable.introspect", "sources") {
            RemoteTable.introspect(countedA, "LINEITEM", Lineitem.Keys, Lineitem.Compare)
          }
          val b = call("RemoteTable.introspect", "sources") {
            RemoteTable.introspect(countedB, "LINEITEM", Lineitem.Keys, Lineitem.Compare)
          }
          // the precision negotiation of Graft.diffRemotes
          val tp = math.min(a.tsPrecision, b.tsPrecision)
          val fp = math.max(a.fracPrecision, b.fracPrecision)
          call("RemoteRemoteDiffer.diff", "sources") {
            RemoteRemoteDiffer.diff(spark, a.copy(fracPrecision = fp, tsPrecision = tp),
              b.copy(fracPrecision = fp, tsPrecision = tp),
              scale.bisectionFactor, scale.bisectionThreshold)
          }
      }
      (call("collect", "sources")(df.collect()), stats)
    }

    val got = DiffCheck.observe(rows, Lineitem.Keys)
    check(got == d.expected, s"$kind diff: got $got, expected ${d.expected}")
    val floor = Workload.floor {
      val aRows = kind match {
        case "local_remote" => spark.read.parquet(localPath).count()
        case _ => engA.query("SELECT COUNT(*) FROM LINEITEM").head.head.get.toLong
      }
      val nB = engB.query("SELECT COUNT(*) FROM LINEITEM").head.head.get.toLong
      check(aRows == totalRows && nB == bRows, s"count(*) $aRows/$nB, expected $totalRows/$bRows")
    }
    OpRecord(kind, s"${d.lo}+${d.hi - d.lo}", wall, floor, totalRows + bRows,
      CrossDbSparse.statsOf(stats))
  }

  override def finish(records: Seq[OpRecord]): Map[String, Double] = {
    val prefix = records.take(prefixOps)
    def mean(k: String) = prefix.map(_.stats(k)).sum / prefix.size
    Map("remote_statements_per_diff" -> mean("pushdown.remote_queries"),
      "remote_rows_fetched_per_diff" -> mean("sources.rows_fetched"))
  }

  private def dropDatabases(): Unit = {
    Seq(engA, engB).filter(_ != null).foreach(e => scala.util.Try(e.close()))
    Seq("a", "b").foreach(side =>
      scala.util.Try(java.sql.DriverManager.getConnection(url(side) + ";drop=true")))
    engA = null
    engB = null
  }
}

object CrossDbSparse {
  def statsOf(s: PushdownStats): Map[String, Double] = Map(
    "pushdown.remote_queries" -> s.remoteQueries.toDouble,
    "sources.rows_fetched" -> s.rowsFetched.toDouble,
    "sources.levels" -> s.levels.toDouble,
    "sources.segments_probed" -> s.segmentsProbed.toDouble,
    "sources.segments_pruned" -> s.segmentsPruned.toDouble,
    "sources.leaf_segments" -> s.leafSegments.toDouble,
    "sources.level_s" -> (if (s.levels == 0) 0.0 else s.levelMillis.sum / 1e3 / s.levels),
    "sources.dense_cutovers" -> (if (s.denseCutoverAtLevel.isDefined) 1.0 else 0.0))
}

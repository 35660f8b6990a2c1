package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.DecimalType

import graft.layout.DataLayout

/** `layout_churn`: a z-ordered graft layout of `orders`, built as the
  * layout gates build theirs (dims custkey × price cents, 24 bits, 16
  * files), shallow-cloned at set-up; the clone takes a seeded mix of small
  * appends, CDC merges with deletes, DELETE and UPDATE, pruned scans, full
  * reads and layout diffs (`diffLayouts` against the pristine source plus a
  * `diffVersions` since the previous layout diff). By op count, never by
  * timer: after every block `compactSmallFiles` + `vacuum`. A driver-side
  * model of the live rows checks every answer.
  *
  * The block's composition follows how often the 30 layout gates call each
  * kind of operation: of 68 call sites, 12 append, 4 merge, 17 delete, 1
  * update, 8 pruned scan, 13 full read, 7 layout or version diff and 6
  * maintenance. The block holds a quarter of each, rounded, with update
  * kept at one (README, "layout_churn"). Op sizes are not derived. */
final class LayoutChurn(ctx: Ctx) extends Workload(ctx) {
  import ctx.{scale, seed, spark}
  val block: Seq[String] = Seq("append", "append", "append", "merge",
    "delete", "delete", "delete", "delete", "update", "skipscan", "skipscan",
    "read", "read", "read", "layout_diff", "layout_diff")
  override def after: Seq[String] = Seq("maintain")
  // one whole cycle of the schedule: a block and its maintenance
  def prefixOps: Int = 17
  def warmupOps: Int = 8

  private val Bits = 24
  private val dims: Seq[Column] =
    Seq(col("o_custkey"), (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
  private val statsCols = Seq("o_custkey", "o_totalprice", "o_orderkey")
  private val keyCols = Seq("o_custkey", "o_orderkey")
  private val compareCols = Seq("o_custkey", "o_orderstatus", "o_totalprice")
  private val n = scale.layoutOrders
  /** Customers per merge, delete or update: about 0.5% of the rows. */
  private val custSpan = math.max(2L, Orders.Customers / 200)

  private var round = 0
  private var baseDir: String = _
  private var liveDir: String = _
  private var initial: Map[Long, Order] = Map.empty
  private val live = mutable.HashMap.empty[Long, Order]
  private var blockStart: (Long, Map[Long, Order]) = (0L, Map.empty)
  private var nextKey = 0L
  private var txnBatch = 0L
  private val state = mutable.Map[String, Double]()

  def setup(): Unit = {
    round += 1
    baseDir = s"${ctx.scratch}/layout/$round/base"
    liveDir = s"${ctx.scratch}/layout/$round/live"
    DataLayout.writeZOrdered(Orders.range(spark, seed, n), dims, Bits, statsCols, baseDir, 16)
    DataLayout.cloneLayout(spark, baseDir, liveDir)
    initial = (0L until n).map(k => k -> Orders.row(seed, k)).toMap
    live.clear()
    live ++= initial
    blockStart = (DataLayout.currentVersion(spark, liveDir), initial)
    nextKey = n
  }

  private def rowOf(r: Row): Order = Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
    r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"))

  private def fingerprint(rows: Iterable[Order]): KeySetHash = {
    val fp = new KeySetHash
    rows.foreach(o => fp.add(o.toString))
    fp
  }

  /** The signed diff from `a` to `b`, as (sign, key) fingerprint and counts. */
  private def expectedDiff(a: collection.Map[Long, Order], b: collection.Map[Long, Order]): Expected = {
    val fp = new KeySetHash
    var minus, plus = 0L
    for (k <- a.keySet ++ b.keySet if a.get(k) != b.get(k)) {
      if (a.contains(k)) { minus += 1; fp.add(s"-|$k") }
      if (b.contains(k)) { plus += 1; fp.add(s"+|$k") }
    }
    Expected(minus, plus, fp)
  }

  /** The customers the next op of `kind` touches, and a price in [0, 1). */
  private def custRange(kind: String): (Long, Long, Double) = {
    val (price, at) = nextPoint(kind)
    val lo = 1 + (at * (Orders.Customers - custSpan)).toLong
    (lo, lo + custSpan - 1, price)
  }

  def run(i: Int, kind: String, opSeed: Long): OpRecord = {
    val stats = mutable.Map[String, Double]()
    val liveRows = live.size.toLong
    val (params, wall, inputRows) = kind match {
      case "append" =>
        val k = math.max(1L, n / 500)
        val rows = (nextKey until nextKey + k).map(Orders.row(Hash(seed, 31), _))
        val delta = Orders.frame(spark, rows)
        txnBatch += 1
        val (committed, w) = timed(i, kind) {
          call("DataLayout.appendZOrderedTxn", "layout") {
            DataLayout.appendZOrderedTxn(delta, dims, Bits, statsCols, liveDir, numFiles = 1,
              txnApp = "perfbench", txnBatch = txnBatch)
          }
        }
        check(committed, s"append batch $txnBatch was not committed")
        nextKey += k
        live ++= rows.map(o => o.o_orderkey -> o)
        stats("layout.rows_changed") = k.toDouble
        stats("layout.files_rewritten_per_commit") = 0
        (s"+$k", w, liveRows)

      case "merge" =>
        val (lo, hi, _) = custRange(kind)
        val inRange = live.values.filter(o => o.o_custkey >= lo && o.o_custkey <= hi)
          .toSeq.sortBy(_.o_orderkey)
        val upserts = inRange.filter(o => Hash.below(Hash(opSeed, 2, o.o_orderkey), 3) == 0)
          .map(o => o.copy(o_orderstatus = "U", o_totalprice = o.o_totalprice + 1.0))
        val deletes = inRange.filter(o => Hash.below(Hash(opSeed, 2, o.o_orderkey), 3) == 1)
        val inserts = (0 until 10).map { j =>
          Order(nextKey + j, lo + Hash.below(Hash(opSeed, 3, j), custSpan), "O",
            (100000 + Hash.below(Hash(opSeed, 4, j), 40000000)) / 100.0)
        }
        val delta = Orders.frame(spark, upserts ++ inserts)
        import spark.implicits._
        val deleteKeys = deletes.map(o => (o.o_custkey, o.o_orderkey)).toDF("o_custkey", "o_orderkey")
        val (rep, w) = timed(i, kind) {
          call("DataLayout.mergeInto", "layout") {
            DataLayout.mergeInto(spark, liveDir, dims, Bits, statsCols, delta, keyCols,
              numFiles = 4, deleteKeys = Some(deleteKeys))
          }
        }
        check(rep.rowsUpdated == upserts.size && rep.rowsInserted == inserts.size &&
          rep.rowsDeleted == deletes.size,
          s"merge $rep, expected ${upserts.size}/${inserts.size}/${deletes.size}")
        nextKey += inserts.size
        live ++= (upserts ++ inserts).map(o => o.o_orderkey -> o)
        live --= deletes.map(_.o_orderkey)
        stats("layout.rows_changed") = (upserts.size + inserts.size + deletes.size).toDouble
        stats("layout.files_rewritten_per_commit") = rep.filesRewritten
        (s"c$lo:${upserts.size}/${inserts.size}/${deletes.size}", w, liveRows)

      case "delete" =>
        val (lo, hi, _) = custRange(kind)
        val r = Hash.below(Hash(opSeed, 5), 5)
        val gone = live.values.filter(o =>
          o.o_custkey >= lo && o.o_custkey <= hi && o.o_orderkey % 5 == r).map(_.o_orderkey).toSeq
        val (rep, w) = timed(i, kind) {
          call("DataLayout.deleteRowsWhere", "layout") {
            DataLayout.deleteRowsWhere(spark, liveDir, dims, Bits, statsCols,
              col("o_custkey").between(lo, hi) && (col("o_orderkey") % 5 === r))
          }
        }
        check(rep.rowsDeleted == gone.size, s"delete $rep, expected ${gone.size} rows")
        live --= gone
        stats("layout.rows_changed") = gone.size.toDouble
        stats("layout.files_rewritten_per_commit") = rep.filesRewritten
        (s"c$lo%5=$r:${gone.size}", w, liveRows)

      case "update" =>
        val (lo, hi, _) = custRange(kind)
        val r = Hash.below(Hash(opSeed, 6), 3)
        val hit = live.values.filter(o =>
          o.o_custkey >= lo && o.o_custkey <= hi && o.o_orderkey % 3 == r).toSeq
        val (rep, w) = timed(i, kind) {
          call("DataLayout.updateWhere", "layout") {
            DataLayout.updateWhere(spark, liveDir, dims, Bits, statsCols,
              col("o_custkey").between(lo, hi) && (col("o_orderkey") % 3 === r),
              Map("o_orderstatus" -> lit("U"), "o_totalprice" -> (col("o_totalprice") + 1.0)))
          }
        }
        check(rep.rowsUpdated == hit.size, s"update $rep, expected ${hit.size} rows")
        live ++= hit.map(o => o.o_orderkey -> o.copy(o_orderstatus = "U", o_totalprice = o.o_totalprice + 1.0))
        stats("layout.rows_changed") = hit.size.toDouble
        stats("layout.files_rewritten_per_commit") = rep.filesRewritten
        (s"c$lo%3=$r:${hit.size}", w, liveRows)

      case "skipscan" =>
        val (lo, hi, price) = custRange(kind)
        val pLo = math.round(1000 + 300000 * price).toDouble
        val pHi = pLo + 100000.0
        val ((rows, scan), w) = timed(i, kind) {
          val scan = call("DataLayout.skipScan", "layout") {
            DataLayout.skipScan(spark, liveDir, Seq(("o_custkey", lo, hi), ("o_totalprice", pLo, pHi)))
          }
          (call("collect", "layout")(scan.df.collect()), scan)
        }
        val want = live.values.filter(o => o.o_custkey >= lo && o.o_custkey <= hi &&
          o.o_totalprice >= pLo && o.o_totalprice <= pHi)
        check(fingerprint(rows.map(rowOf)) == fingerprint(want),
          s"skipScan returned ${rows.length} rows, expected ${want.size}")
        stats("layout.files_read_ratio") = scan.filesRead.toDouble / scan.filesTotal
        (s"c$lo:${want.size}", w, liveRows)

      case "read" =>
        val (rows, w) = timed(i, kind) {
          val df = call("DataLayout.readLayout", "layout")(DataLayout.readLayout(spark, liveDir))
          call("collect", "layout")(df.collect())
        }
        check(fingerprint(rows.map(rowOf)) == fingerprint(live.values),
          s"readLayout returned ${rows.length} rows, expected ${live.size}")
        ("all", w, liveRows)

      case "layout_diff" =>
        val (fromVersion, fromRows) = blockStart
        val toVersion = DataLayout.currentVersion(spark, liveDir)
        val ((layoutRows, ld, versionRows), w) = timed(i, kind) {
          val ld = call("DataLayout.diffLayouts", "layout") {
            DataLayout.diffLayouts(spark, baseDir, liveDir, Seq("o_orderkey"), compareCols)
          }
          val lr = call("collect", "layout")(ld.df.collect())
          val vd = call("DataLayout.diffVersions", "layout") {
            DataLayout.diffVersions(spark, liveDir, fromVersion, toVersion, Seq("o_orderkey"), compareCols)
          }
          (lr, ld, call("collect", "layout")(vd.df.collect()))
        }
        val gotLayouts = DiffCheck.observe(layoutRows, Seq("o_orderkey"))
        val wantLayouts = expectedDiff(initial, live)
        check(gotLayouts == wantLayouts, s"diffLayouts: got $gotLayouts, expected $wantLayouts")
        val gotVersions = DiffCheck.observe(versionRows, Seq("o_orderkey"))
        val wantVersions = expectedDiff(fromRows, live)
        check(gotVersions == wantVersions, s"diffVersions: got $gotVersions, expected $wantVersions")
        blockStart = (toVersion, live.toMap)
        if (ld.segmentsTotal > 0)
          stats("layout.segments_dirty_ratio") = ld.segmentsDirty.toDouble / ld.segmentsTotal
        stats("layout.files_read_ratio") =
          (ld.filesReadA + ld.filesReadB).toDouble / math.max(1, ld.filesTotalA + ld.filesTotalB)
        (s"v$fromVersion-$toVersion:${gotLayouts.keys.count}", w, initial.size.toLong + liveRows)

      case "maintain" =>
        val ((compact, vacuum), w) = timed(i, kind) {
          val c = call("DataLayout.compactSmallFiles", "layout") {
            DataLayout.compactSmallFiles(spark, liveDir, dims, Bits, statsCols,
              rowsPerFile = math.max(1L, n / 32))
          }
          (c, call("DataLayout.vacuum", "layout")(DataLayout.vacuum(spark, liveDir)))
        }
        blockStart = (DataLayout.currentVersion(spark, liveDir), live.toMap)
        stats("layout.maintenance_s") = w
        stats("layout.vacuum_files_deleted") = vacuum.filesDeleted
        (s"c${compact.filesRewritten}v${vacuum.filesDeleted}", w, liveRows)
    }
    // count(*) over the layout the op worked on, timed in the same run
    val floor = Workload.floor {
      val count = DataLayout.readLayout(spark, liveDir).count()
      check(count == live.size, s"count(*) $count after $kind, model holds ${live.size}")
    }
    if (i == prefixOps - 1) {
      state("layout.log_files") = logFiles(liveDir).toDouble
      state("layout.alive_files") = DataLayout.aliveManifest(spark, liveDir).count().toDouble
    }
    OpRecord(kind, params, wall, floor, inputRows, stats.toMap)
  }

  private def logFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".crc")) 0 else 1
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("_graft_")).map(walk).sum
  }

  private def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L) else f.length

  /** Space amplification after a final vacuum: the live layout's bytes
    * (its own directory plus the source files it still shares) over the
    * bytes of one fresh `writeZOrdered` of the same rows. */
  override def finish(records: Seq[OpRecord]): Map[String, Double] = {
    DataLayout.vacuum(spark, liveDir, retainVersions = 0)
    val shared = DataLayout.aliveManifest(spark, liveDir).select("file").collect()
      .map(r => new java.io.File(new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath))
      .filter(_.getAbsolutePath.startsWith(new java.io.File(baseDir).getAbsolutePath))
      .map(_.length).sum
    val fresh = s"${ctx.scratch}/layout/$round/fresh"
    DataLayout.writeZOrdered(DataLayout.readLayout(spark, liveDir), dims, Bits, statsCols, fresh, 16)
    val commits = records.filter(_.stats.contains("layout.rows_changed"))
    def p50(kinds: Set[String]) = {
      val xs = records.filter(r => kinds(r.kind)).map(_.wall)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    state.toMap ++ Map(
      "layout.space_amp" -> (bytesUnder(new java.io.File(liveDir)) + shared).toDouble /
        bytesUnder(new java.io.File(fresh)),
      "commit_p50_s" -> p50(Set("append", "merge", "delete", "update")),
      "commit_tail_s" -> Stats.tail(commits.map(_.wall))._1,
      "read_p50_s" -> p50(Set("skipscan", "read")),
      "layout_diff_p50_s" -> p50(Set("layout_diff")))
  }
}

package perfbench

import graft.api.Graft
import graft.api.Graft.{Algorithm, DiffOptions}

/** A seeded change to `lineitem`: within orders [lo, hi) each row is
  * deleted or updated with probability p (half each), and an order gains a
  * new line with probability p/4. */
final case class Mutation(seed: Long, lo: Long, hi: Long, p: Double) {
  def rows(base: Long, order: Long): Seq[Line] = {
    val clean = Lineitem.orderRows(base, order)
    if (order < lo || order >= hi) clean
    else clean.flatMap { r =>
      val u = Hash.unit(Hash(seed, 3, order, r.l_linenumber))
      if (u < p / 2) None
      else if (u < p) Some(Lineitem.row(base, order, r.l_linenumber, 1 + Hash.below(Hash(seed, 4, order), 3).toInt))
      else Some(r)
    } ++ (if (Hash.unit(Hash(seed, 5, order)) < p / 4) Seq(Lineitem.row(base, order, Lineitem.MaxLine + 1)) else Nil)
  }

  /** The diff of clean (a) against mutated (b). */
  def expected(base: Long): Expected = {
    val fp = new KeySetHash
    var minus, plus = 0L
    for (o <- lo until hi) {
      val before = Lineitem.orderRows(base, o).map(r => r.l_linenumber -> r).toMap
      val after = rows(base, o).map(r => r.l_linenumber -> r).toMap
      for (l <- (before.keySet ++ after.keySet).toSeq if before.get(l) != after.get(l)) {
        if (before.contains(l)) { minus += 1; fp.add(s"-|$o|$l") }
        if (after.contains(l)) { plus += 1; fp.add(s"+|$o|$l") }
      }
    }
    Expected(minus, plus, fp)
  }
}

/** `local_diff`: both sides Spark-readable parquet, `lineitem` against
  * seeded mutated copies written at set-up. Each op is
  * `Graft.diffTables(…, Algorithm.Estimate)`; half the ops are sparse
  * (0.075% of keys changed, clustered in one range or scattered, so the
  * estimate picks HashDiff) and half dense (12% or 18% changed uniformly,
  * so it picks JoinDiff). Spark does all the work; the remote is bypassed.
  * Each op kind diffs its own copy; the seed places the changes, while the
  * change rates are fixed points of the sparse and dense ranges, so that
  * runs with different seeds measure the same mix.
  *
  * The traced run calls the public steps `diffTables(Estimate)` runs —
  * validateKeys on each side, chooseAlgorithm, then the chosen arm with
  * validateKeys off — so each step is timed from outside. */
final class LocalDiff(ctx: Ctx) extends Workload(ctx) {
  import ctx.{scale, seed, spark}
  val block: Seq[String] = Seq("sparse_clustered", "sparse_scattered", "dense_12", "dense_18")
  def prefixOps: Int = 8
  def warmupOps: Int = 8

  private val orders = scale.localOrders
  private val baseRows = Lineitem.count(seed, orders)
  private var round = 0
  private var basePath: String = _
  /** kind → its mutated copy: (path, rows, expected diff). */
  private var variants: Map[String, (String, Long, Expected)] = Map.empty

  private def mutations: Map[String, Mutation] = {
    val sparse = 0.00075
    // a clustered range in which a third of the rows change: 4.25 keys
    // change per order at p = 1, about 4 rows per order
    val width = math.max(1L, math.round(orders * sparse * 4 * 3 / 4.25))
    val lo = Hash.below(Hash(seed, 22), orders - width)
    Map(
      "sparse_clustered" -> Mutation(Hash(seed, 23), lo, lo + width, 1.0 / 3),
      "sparse_scattered" -> Mutation(Hash(seed, 24), 0, orders, sparse),
      "dense_12" -> Mutation(Hash(seed, 25), 0, orders, 0.12),
      "dense_18" -> Mutation(Hash(seed, 27), 0, orders, 0.18))
  }

  def setup(): Unit = {
    round += 1
    val dir = s"${ctx.scratch}/local/$round"
    basePath = s"$dir/base.parquet"
    Lineitem.frame(spark, seed, orders).write.parquet(basePath)
    val s = seed
    variants = mutations.map { case (kind, m) =>
      val path = s"$dir/$kind.parquet"
      import spark.implicits._
      spark.range(orders).as[Long].flatMap(o => m.rows(s, o)).write.parquet(path)
      kind -> (path, (0L until orders).map(o => m.rows(s, o).size.toLong).sum, m.expected(s))
    }
  }

  def run(i: Int, kind: String, opSeed: Long): OpRecord = {
    val (path, rowsB, expected) = variants(kind)
    val stats = scala.collection.mutable.Map[String, Double]()
    def step[T](name: String, layer: String, stat: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = call(name, layer)(body)
      stats(stat) = (System.nanoTime() - t0) / 1e9
      r
    }
    val (rows, wall) = timed(i, kind) {
      val a = call("Graft.connectToTable", "api")(Graft.connectToTable(spark, basePath, Lineitem.Keys))
      val b = call("Graft.connectToTable", "api")(Graft.connectToTable(spark, path, Lineitem.Keys))
      if (!ctx.tracer.on)
        Graft.diffTables(a, b, DiffOptions(algorithm = Algorithm.Estimate)).collect()
      else {
        step("TableSegment.validateKeys", "api", "api.validate_s") {
          Seq(a, b).foreach { seg =>
            val (total, distinct, nulls) = seg.validateKeys()
            check(nulls == 0 && total == distinct, s"key validation: $total/$distinct/$nulls")
          }
        }
        val compare = a.relevantCols.filterNot(Lineitem.Keys.contains)
        val pick = step("Graft.chooseAlgorithm", "diff", "diff.estimate_s") {
          Graft.chooseAlgorithm(a, b, compare)
        }
        val arm = if (pick == Algorithm.HashDiff) "hashdiff" else "joindiff"
        stats("diff.hashdiff_share") = if (arm == "hashdiff") 1.0 else 0.0
        step(s"Graft.diffTables($arm)", "diff", s"diff.${arm}_s") {
          Graft.diffTables(a, b, DiffOptions(algorithm = pick, validateKeys = false)).collect()
        }
      }
    }
    val got = DiffCheck.observe(rows, Lineitem.Keys)
    check(got == expected, s"$kind diff: got $got, expected $expected")
    val floor = Workload.floor {
      val counts = Seq(basePath, path).map(p => spark.read.parquet(p).count())
      check(counts == Seq(baseRows, rowsB), s"count(*) $counts, expected ${Seq(baseRows, rowsB)}")
    }
    OpRecord(kind, s"${expected.minus}-/${expected.plus}+", wall, floor, baseRows + rowsB, stats.toMap)
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Input sizes. `full` is what the benchmark measures; `smoke` is the
  * sf0.001-sized setting its own test runs in seconds. */
final case class Scale(name: String, crossdbOrders: Long, localOrders: Long,
    layoutOrders: Long, bisectionFactor: Int, bisectionThreshold: Int, setupRounds: Int)

object Scale {
  val full = Scale("full", crossdbOrders = 3000, localOrders = 25000, layoutOrders = 60000,
    bisectionFactor = 16, bisectionThreshold = 512, setupRounds = 3)
  val smoke = Scale("smoke", crossdbOrders = 1500, localOrders = 1500, layoutOrders = 1500,
    bisectionFactor = 4, bisectionThreshold = 64, setupRounds = 2)
}

final case class Ctx(spark: SparkSession, seed: Long, scale: Scale, scratch: String,
    tracer: Tracer)

/** One timed op: its wall time, the wall time of `count(*)` over its
  * inputs, the rows of its inputs, what it did (for the schedule
  * fingerprint), and the stats it returned. */
final case class OpRecord(kind: String, params: String, wall: Double,
    floor: Double, inputRows: Long, stats: Map[String, Double])

/** A closed loop with one client: the next op starts when the previous one
  * and its verification are done. */
abstract class Workload(ctx: Ctx) {
  /** The op kinds of one schedule block; the seed only reorders them. */
  def block: Seq[String]
  /** Ops triggered by op count: they run, in this order, after every block
    * (maintenance). */
  def after: Seq[String] = Nil
  /** The first ops always run, whatever the time budget; counts in the
    * traced run are taken over them, so they repeat exactly per seed. */
  def prefixOps: Int
  /** Builds the fixture from scratch (discarding an earlier one). */
  def setup(): Unit
  /** Runs op `i`: untimed preparation, the timed call via [[timed]], then
    * untimed verification. Throws on a wrong answer. */
  def run(i: Int, kind: String, opSeed: Long): OpRecord
  /** Workload-specific end-of-run figures, computed after the timed loop. */
  def finish(records: Seq[OpRecord]): Map[String, Double] = Map.empty

  /** Untimed ops run after set-up, cycling through every kind, so that
    * the JIT and the caches are warm before timing starts. */
  def warmupOps: Int

  /** Kind → share of one cycle of the schedule: a block and the ops after it. */
  def shares: Map[String, Double] = {
    val cycle = block ++ after
    cycle.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / cycle.size }
  }

  private val opsOfKind = mutable.Map[String, Int]().withDefaultValue(0)

  /** A point in [0, 1)² for the next op of `kind`, from two irrational-step
    * walks: the first (a size) is the same for every seed, the second (a
    * place) starts at a seeded offset. Each run thus spreads a kind's ops
    * evenly, and runs with different seeds measure the same mix. */
  protected def nextPoint(kind: String): (Double, Double) = {
    val j = opsOfKind(kind)
    opsOfKind(kind) = j + 1
    ((j * 0.6180339887498949) % 1.0,
      (Hash.unit(Hash(ctx.seed, 9, kind.hashCode)) + j * 0.41421356237309515) % 1.0)
  }

  protected def timed[T](i: Int, kind: String)(body: => T): (T, Double) = {
    ctx.tracer.beginOp(i)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally ctx.tracer.endOp(i, kind)
  }

  protected def call[T](name: String, layer: String)(body: => T): T =
    ctx.tracer.call(name, layer)(body)

  protected def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongAnswer(what)
}

object Workload {
  /** The `count(*)` baseline of an op: the wall time of `count`, which also
    * checks the counts. */
  def floor(count: => Unit): Double = {
    val t0 = System.nanoTime()
    count
    (System.nanoTime() - t0) / 1e9
  }
}

final class WrongAnswer(msg: String) extends RuntimeException(msg)

object Main {
  /** Runs past this are cut, so a run ends inside the 180 s it may take. */
  private val HardCapSeconds = 140.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val scale = if (a.get("scale").contains("smoke")) Scale.smoke else Scale.full
    val scratch = a("scratch")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/spark-local")
    if (traceOn) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder.getOrCreate()
    val sparkReady = System.currentTimeMillis()

    val tracer = new Tracer(traceOn)
    tracer.attach(spark)
    // the live heap at each stage of the run, so that the retained heap the
    // result reports can be read apart: Spark alone, plus the fixtures and
    // warm-up, plus the fixed prefix of ops, plus the rest of the loop
    val heapMb = mutable.LinkedHashMap[String, Double]()
    def markHeap(stage: String): Unit = heapMb(stage) = liveHeap() / 1048576.0
    markHeap("spark_ready")
    val ctx = Ctx(spark, seed, scale, scratch, tracer)
    val w: Workload = workloadName match {
      case "crossdb_sparse" => new CrossDbSparse(ctx)
      case "local_diff" => new LocalDiff(ctx)
      case "layout_churn" => new LayoutChurn(ctx)
      case other =>
        System.err.println(s"perfbench: unknown workload $other")
        sys.exit(2)
    }
    val context = Map(
      "workload" -> workloadName, "seed" -> seed, "scale" -> scale.name,
      "inputs" -> Map("crossdb_orders" -> scale.crossdbOrders, "local_orders" -> scale.localOrders,
        "layout_orders" -> scale.layoutOrders, "bisection_factor" -> scale.bisectionFactor,
        "bisection_threshold" -> scale.bisectionThreshold),
      "cpus" -> cpus, "spark_master" -> s"local[$cpus]",
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "rev" -> a.getOrElse("rev", "unknown"), "trace" -> traceOn, "seconds" -> seconds)

    val attempted = mutable.ArrayBuffer.empty[OpRecord]
    var failure: Option[String] = None
    def fail(what: String, e: Throwable): Unit = {
      e.printStackTrace()
      failure = failure.orElse(Some(s"$what: $e"))
    }
    var metrics = Seq.empty[(String, (Double, String))]
    try {
      // the fixture is built several times and its median reported, so
      // that work moved into set-up shows as a steady figure; then one
      // untimed op of every kind warms the JIT and the caches
      val setupRounds = (0 until scale.setupRounds).map { _ =>
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
      val warm0 = System.nanoTime()
      val kinds = (w.block ++ w.after).distinct
      for (j <- 0 until w.warmupOps) w.run(-1 - j, kinds(j % kinds.size), Hash(seed, 17, j))
      val warmS = (System.nanoTime() - warm0) / 1e9
      val setupS = (sparkReady - jvmStart) / 1e3 + Stats.median(setupRounds) + warmS

      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      markHeap("after_setup")
      heapPools.forEach(p => if (p.getType == java.lang.management.MemoryType.HEAP) p.resetPeakUsage())
      val schedule = Iterator.from(0).flatMap { b =>
        Hash.shuffle(w.block, Hash(seed, 11, b)) ++ w.after
      }
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      while (failure.isEmpty && (i < w.prefixOps || elapsed < seconds) && elapsed < HardCapSeconds) {
        if (i == w.prefixOps) markHeap("after_prefix")
        val kind = schedule.next()
        try attempted += w.run(i, kind, Hash(seed, 13, i))
        catch { case e: Throwable => fail(s"op $i ($kind)", e) }
        i += 1
      }
      var peakHeap = 0L
      heapPools.forEach(p =>
        if (p.getType == java.lang.management.MemoryType.HEAP) peakHeap += p.getPeakUsage.getUsed)
      markHeap("after_loop")
      val report = if (failure.isEmpty) {
        val extra = w.finish(attempted.toSeq)
        val r = Report(w, attempted.toSeq, extra, setupS, setupRounds, peakHeap,
          scala.collection.immutable.ListMap(heapMb.toSeq: _*),
          tracer)
        metrics = if (traceOn) r.perLayer else r.endToEnd
        metrics.foreach { case (k, (v, _)) => require(!v.isNaN && !v.isInfinite, s"$k is $v") }
        Some(r)
      } else None
      val nAttempted = attempted.size + failure.size
      println("report " + Json(Map(
        "context" -> context,
        "error_rate" -> failure.size.toDouble / math.max(1, nAttempted),
        "failure" -> failure,
        "schedule" -> attempted.take(w.prefixOps).map(r => s"${r.kind}:${r.params}"),
        "details" -> report.map(_.details))))
      tracer.writeTo(a("trace-out"), context)
    } catch {
      case e: Throwable => fail("run", e)
    }
    // every run ends with a result line; a failed one carries no metrics
    if (failure.nonEmpty) metrics = Nil
    println(Json(Map(
      "correct" -> failure.isEmpty,
      "attempted" -> math.max(1, attempted.size + failure.size),
      "failed" -> failure.size,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))))
    // no orderly teardown: Spark's and Derby's state lives in the run's
    // scratch directory, which the launcher deletes once this JVM is gone
    Console.out.flush()
    Runtime.getRuntime.halt(if (failure.isEmpty) 0 else 1)
  }

  /** The heap still in use after two full collections; Spark's cleaner
    * releases broadcasts and shuffles asynchronously once their owners are
    * collected, hence the pause between them. */
  private def liveHeap(): Long = {
    System.gc(); Thread.sleep(300); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{RemoteEngine, SourceProfile}

/** One interval of a traced run. Times are nanoseconds since the tracer
  * started; `parent` 0 means the op's root span. */
final case class Span(id: Long, parent: Long, op: Int, name: String, layer: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spans and counters of the traced run, all observed from outside the
  * program: spans around the public calls the workloads make, a
  * SparkListener and a QueryExecutionListener, a counting decorator over
  * each RemoteEngine, and Hadoop's storage statistics for the local file
  * system (plus call counters, see [[CountingLocalFs]]).
  *
  * With one client thread, ops never overlap. Between ops the listener bus
  * is drained, so every Spark event of an op is attributed to that op and
  * none of the untimed verification work is. When `on` is false every
  * method is a pass-through and nothing is recorded. */
final class Tracer(val on: Boolean) {
  private val origin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Per-op results, in op order: (op index, kind, counters). */
  val ops = mutable.ArrayBuffer.empty[(Int, String, Map[String, Double])]

  @volatile private var op = -1
  @volatile private var current = 0L
  private var rootId = 0L
  private var opStart = 0L
  private val counts = new ConcurrentHashMap[String, java.lang.Double]()
  private var before: Map[String, Long] = Map.empty
  private var spark: SparkSession = _

  def now(): Long = System.nanoTime() - origin
  private def fromEpochMs(ms: Long): Long = (ms - epochOrigin) * 1000000L
  private def add(k: String, v: Double): Unit =
    counts.merge(k, v, (a, b) => a + b)

  def attach(s: SparkSession): Unit = if (on) {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(queryListener)
  }

  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (op >= 0) {
      add("spark.jobs", 1)
      jobStarts.put(e.jobId, fromEpochMs(e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { t0 =>
        if (op >= 0) spans.add(Span(ids.incrementAndGet(), -1, op, s"job ${e.jobId}", "spark",
          t0, math.max(t0.longValue, fromEpochMs(e.time))))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (op >= 0) add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (op >= 0) {
      add("spark.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("spark.shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.input_bytes", m.inputMetrics.bytesRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart if op >= 0 => add("spark.sql_executions", 1)
      case _ => ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (op >= 0) add("spark.actions", 1)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (op >= 0) add("spark.actions", 1)
  }

  /** Block until every event posted so far has reached the listeners. */
  private def drain(): Unit = if (spark != null) {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def fsCounters(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    val hadoop =
      if (st == null) Map.empty[String, Long]
      else st.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap
    hadoop ++ Map("openOps" -> CountingLocalFs.reads.get, "mutateOps" -> CountingLocalFs.writes.get,
      "listOps" -> CountingLocalFs.lists.get, "gcMs" -> gcMillis())
  }

  def beginOp(i: Int): Unit = if (on && i >= 0) {
    drain()
    counts.clear()
    before = fsCounters()
    rootId = ids.incrementAndGet()
    current = rootId
    opStart = now()
    op = i
  }

  /** Close op `i`: its counters, layer self times and busy times. Warm-up
    * ops (negative indices) are not traced. */
  def endOp(i: Int, kind: String): Unit = if (on && i >= 0) {
    val end = now()
    drain()
    op = -1
    current = 0L
    val after = fsCounters()
    def delta(k: String): Double = (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble
    spans.add(Span(rootId, 0L, i, kind, "op", opStart, end))
    val mine = spans.asScala.filter(_.op == i).toSeq
    val calls = mine.filter(s => s.layer != "spark" && s.layer != "remote")
    // a job belongs to the innermost call span that was open when it started
    val placed = mine.map { s =>
      if (s.parent != -1) s
      else {
        val host = calls.filter(c => c.start <= s.start && s.start <= c.end)
          .sortBy(c => -c.start).headOption.map(_.id).getOrElse(rootId)
        s.copy(parent = host)
      }
    }
    spans.removeIf(_.op == i)
    placed.foreach(spans.add)
    val jobs = placed.filter(_.layer == "spark")
    val remotes = placed.filter(_.layer == "remote")
    val c = mutable.Map[String, Double]()
    counts.asScala.foreach { case (k, v) => c(k) = v.doubleValue }
    c("spark.job_busy_s") = Tracer.covered(jobs, opStart, end) / 1e9
    c("sources.remote_busy_s") = Tracer.covered(remotes, opStart, end) / 1e9
    c("spark.driver_only_s") = ((end - opStart) - Tracer.covered(jobs ++ remotes, opStart, end)) / 1e9
    c("spark.gc_s") = delta("gcMs") / 1e3
    c("layout.fs_bytes_written") = delta("bytesWritten")
    c("layout.fs_bytes_read") = delta("bytesRead")
    c("layout.fs_read_ops") = delta("openOps")
    c("layout.fs_write_ops") = delta("mutateOps")
    c("layout.fs_list_ops") = delta("listOps")
    val children = placed.groupBy(_.parent)
    for (s <- placed if s.layer != "spark" && s.layer != "remote") {
      val kids = children.getOrElse(s.id, Nil)
      val self = s.dur - Tracer.covered(kids, s.start, s.end)
      val layer = if (s.layer == "op") "bench" else s.layer
      c(s"$layer.self_s") = c.getOrElse(s"$layer.self_s", 0.0) + self / 1e9
    }
    ops += ((i, kind, c.toMap))
  }

  /** A span around one public call on the client thread. */
  def call[T](name: String, layer: String)(body: => T): T =
    if (!on || op < 0) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      current = id
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, op, name, layer, t0, now()))
        current = parent
      }
    }

  /** A remote statement, from any thread: it is a child of the call span
    * open on the client thread when it started. */
  def remote[T](engine: String)(body: => T)(rows: T => Int): T =
    if (!on || op < 0) body
    else {
      val parent = current
      val o = op
      val t0 = now()
      val r = body
      spans.add(Span(ids.incrementAndGet(), parent, o, s"sql@$engine", "remote", t0, now()))
      add("sources.remote_statements", 1)
      add("sources.remote_result_rows", rows(r))
      r
    }

  def writeTo(path: String, context: Map[String, Any]): Unit = if (on) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("{\"context\": " + Json(context) + ",")
      w.println("\"ops\": " + Json(ops.map { case (i, k, c) =>
        Map("op" -> i, "kind" -> k, "counters" -> scala.collection.immutable.TreeMap(c.toSeq: _*))
      }) + ",")
      w.println("\"spans\": [")
      w.println(spans.asScala.toSeq.sortBy(s => (s.op, s.start, s.id)).map { s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "layer" -> s.layer, "start_us" -> s.start / 1000, "end_us" -> s.end / 1000))
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}

object Tracer {
  /** Nanoseconds of [lo, hi] covered by the union of the spans. */
  def covered(spans: Seq[Span], lo: Long, hi: Long): Long = {
    val iv = spans.map(s => (math.max(lo, s.start), math.min(hi, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Counts statements, result rows and busy time of a remote engine.
  * `jdbcSource` passes through, so leaf fetches that Spark runs as a
  * partitioned JDBC scan show as Spark jobs, not as statements here. */
final class CountingEngine(inner: RemoteEngine, name: String, tracer: Tracer) extends RemoteEngine {
  def profile: SourceProfile = inner.profile
  def query(sql: String): Seq[Seq[Option[String]]] =
    tracer.remote(name)(inner.query(sql))(_.size)
  override def update(sql: String): Unit = tracer.remote(name)(inner.update(sql))(_ => 0)
  override def jdbcSource: Option[(String, java.util.Properties)] = inner.jdbcSource
  override def close(): Unit = inner.close()
}

/** The local file system with counters on opens, mutations (create,
  * rename, delete) and directory listings, which Hadoop's storage
  * statistics do not count for `file:`. Installed as `fs.file.impl` in
  * traced runs only. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFs._

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet()
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(p, recursive)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(p)
  }
}

object CountingLocalFs {
  val reads = new AtomicLong(0)
  val writes = new AtomicLong(0)
  val lists = new AtomicLong(0)
}

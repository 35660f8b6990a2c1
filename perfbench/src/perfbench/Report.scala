package perfbench

/** Turns op records into the metrics the result line carries. */
final case class Report(w: Workload, records: Seq[OpRecord], extra: Map[String, Double],
    setupS: Double, setupRounds: Seq[Double], peakHeapBytes: Long, heapMb: Map[String, Double],
    tracer: Tracer) {

  private val walls = records.map(_.wall)
  private val byKind = records.groupBy(_.kind)

  /** A per-kind figure weighted by each kind's fixed share of the
    * schedule, so it does not depend on how many ops of each kind one time
    * window happened to hold: kinds differ several-fold in wall time and in
    * their ratio to `count(*)`. */
  private def weighted(f: Seq[OpRecord] => Double): Double = {
    val shares = w.shares.filter { case (k, _) => byKind.contains(k) }
    shares.map { case (k, s) => s * f(byKind(k)) }.sum / shares.values.sum
  }
  private def weightedP50: Double = weighted(rs => Stats.median(rs.map(_.wall)))
  private def weightedMean(f: OpRecord => Double): Double = weighted(rs => rs.map(f).sum / rs.size)

  def endToEnd: Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "p50_s" -> (weightedP50, "s"),
    "vs_count" -> (weightedMean(_.wall) / weightedMean(_.floor), "ratio"),
    "rows_per_s" -> (weightedMean(_.inputRows.toDouble) / weightedMean(_.wall), "rows/s"),
    "live_heap_mb" -> (heapMb("after_loop"), "MB"))

  /** Per-layer metrics of the traced run. Each is a mean per op over the
    * ops that report it; counts (names not ending in `_s`) are taken over
    * the schedule's fixed prefix, so two runs with one seed agree exactly. */
  def perLayer: Seq[(String, (Double, String))] = {
    val prefix = w.prefixOps
    val traced = tracer.ops.map { case (i, _, c) => i -> c }.toMap
    val perOp: Seq[(Int, String, Map[String, Double])] = records.zipWithIndex.map {
      case (r, i) => (i, r.kind, r.stats ++ traced.getOrElse(i, Map.empty))
    }
    def mean(name: String, ops: Seq[(Int, String, Map[String, Double])]): Double = {
      val use = if (name.endsWith("_s")) ops else ops.filter(_._1 < prefix)
      val xs = use.flatMap(_._3.get(name))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def total(name: String) =
      perOp.filter(_._1 < prefix).flatMap(_._3.get(name)).sum
    val derived = Map(
      "sources.prune_ratio" -> {
        val probed = total("sources.segments_probed")
        if (probed == 0) 0.0 else total("sources.segments_pruned") / probed
      },
      "layout.write_bytes_per_row" -> {
        val commits = perOp.filter(o => o._1 < prefix && o._3.contains("layout.rows_changed"))
        val rows = commits.map(_._3("layout.rows_changed")).sum
        if (rows == 0) 0.0
        else commits.map(_._3.getOrElse("layout.fs_bytes_written", 0.0)).sum / rows
      },
      "trace.p50_s" -> weightedP50,
      "trace.spans_per_op" -> tracer.spans.size.toDouble / math.max(1, tracer.ops.size))
    Report.PerLayer.map { case (name, unit) =>
      val v = derived.get(name).orElse(extra.get(name)).getOrElse(mean(name, perOp))
      name -> (v, unit)
    }
  }

  /** Everything else the report line prints: per-kind latencies, the tail's
    * percentile and sample count, the workload's own figures, and in the
    * traced run the per-layer means per op type. */
  def details: Map[String, Any] = {
    val (tailV, tailP, tailN) = Stats.tail(walls)
    val perKind = byKind.map { case (k, rs) =>
      k -> Map("n" -> rs.size, "p50_s" -> Stats.median(rs.map(_.wall)),
        "walls_s" -> rs.map(r => math.round(r.wall * 1e4) / 1e4))
    }
    val perOpType =
      if (!tracer.on) Map.empty
      else records.zipWithIndex.filter(_._2 < w.prefixOps).groupBy(_._1.kind).map { case (k, rs) =>
        val idx = rs.map(_._2).toSet
        val maps = rs.map(_._1.stats) ++ tracer.ops.filter(t => idx(t._1)).map(_._3)
        k -> maps.flatMap(_.keys).distinct.sorted.map { m =>
          val xs = maps.flatMap(_.get(m))
          m -> xs.sum / xs.size
        }.toMap
      }
    Map(
      "ops" -> records.size,
      "tail" -> Map("value_s" -> tailV, "percentile" -> tailP, "n" -> tailN),
      "peak_heap_mb" -> peakHeapBytes / 1048576.0,
      "live_heap_mb" -> heapMb,
      "per_kind" -> perKind,
      "setup_rounds_s" -> setupRounds,
      "workload" -> extra,
      "per_op_type" -> perOpType)
  }
}

object Report {
  /** name → unit, printed by every traced run whether or not the workload
    * exercises the layer (an idle layer reads 0). */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.validate_s" -> "s", "api.self_s" -> "s",
    "diff.estimate_s" -> "s", "diff.hashdiff_s" -> "s", "diff.joindiff_s" -> "s",
    "diff.hashdiff_share" -> "ratio", "diff.self_s" -> "s",
    "sources.remote_busy_s" -> "s", "sources.remote_statements" -> "count",
    "sources.remote_result_rows" -> "rows", "sources.rows_fetched" -> "rows",
    "sources.levels" -> "count", "sources.segments_probed" -> "count",
    "sources.prune_ratio" -> "ratio", "sources.leaf_segments" -> "count",
    "sources.level_s" -> "s", "sources.dense_cutovers" -> "count", "sources.self_s" -> "s",
    "layout.fs_bytes_written" -> "bytes", "layout.fs_bytes_read" -> "bytes",
    "layout.fs_read_ops" -> "count", "layout.fs_write_ops" -> "count",
    "layout.fs_list_ops" -> "count", "layout.files_rewritten_per_commit" -> "count",
    "layout.files_read_ratio" -> "ratio", "layout.segments_dirty_ratio" -> "ratio",
    "layout.log_files" -> "count", "layout.alive_files" -> "count",
    "layout.maintenance_s" -> "s", "layout.vacuum_files_deleted" -> "count",
    "layout.write_bytes_per_row" -> "bytes", "layout.space_amp" -> "ratio",
    "layout.self_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sql_executions" -> "count", "spark.actions" -> "count",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.job_busy_s" -> "s",
    "spark.driver_only_s" -> "s", "spark.gc_s" -> "s",
    "bench.self_s" -> "s", "trace.p50_s" -> "s", "trace.spans_per_op" -> "count")
}

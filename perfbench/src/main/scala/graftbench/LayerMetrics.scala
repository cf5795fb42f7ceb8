package graftbench

import java.io.File

/** Per-layer metrics of one traced execution, from its spans and the
  * listener's per-span counters.
  */
object LayerMetrics {
  val perLayer: Seq[String] = Seq("self_s", "overhead_s", "jobs", "tasks", "executor_cpu_s",
    "shuffle_write_mb", "spill_mb", "task_skew")

  val counts: Seq[String] = Seq("io.rows_read", "io.bytes_written_mb", "blocking.candidates",
    "matching.matches", "matching.pairs_per_s", "matching.useful_ratio", "clustering.clusters",
    "clustering.max_cluster", "fusion.records_out", "dedup.exact_dups", "dedup.lsh_candidates",
    "dedup.near_pairs", "dedup.useful_ratio", "text.docs_kept", "text.tokens_packed")

  val whole: Seq[String] =
    Seq("pipeline.wall_s", "pipeline.jobs", "pipeline.gc_s", "pipeline.trace_overhead_s")

  /** Every per-layer metric name, in the order BENCHMARK.json lists them. */
  val names: Seq[String] =
    Tracer.Layers.flatMap(l => perLayer.map(m => s"$l.$m")) ++ counts ++ whole

  private val MB = 1048576.0

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var end = Long.MinValue
    var total = 0L
    clipped.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { total += b - s; end = b }
    }
    total
  }

  def apply(tr: Tracer, ls: SpanListener, exec: Int, wallS: Double, gcS: Double,
      checked: Map[String, Double], bytesWritten: Long): Map[String, Double] = ls.synchronized {
    val spans = tr.spans.filter(_.exec == exec)
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    val m = scala.collection.mutable.Map.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    for (layer <- Tracer.Layers; s <- spans if s.name == layer) {
      val self = s.durS - childS.getOrElse(s.id, 0.0)
      val st = ls.stats.getOrElse(s.id, new SpanStats)
      add(s"$layer.self_s", self)
      add(s"$layer.overhead_s",
        math.max(0.0, self - covered(st.jobIntervals.values, s.startMs, s.endMs) / 1e3))
      add(s"$layer.jobs", st.jobs)
      add(s"$layer.tasks", st.tasks)
      add(s"$layer.executor_cpu_s", st.cpuNs / 1e9)
      add(s"$layer.shuffle_write_mb", st.shuffleWrite / MB)
      add(s"$layer.spill_mb", st.spill / MB)
    }
    // skew: max over median task time in the layer's widest stage
    for (layer <- Tracer.Layers) {
      val stages = spans.filter(_.name == layer)
        .flatMap(s => ls.stats.get(s.id).toSeq.flatMap(_.stageTaskMs.values))
      if (stages.nonEmpty) {
        val widest = stages.maxBy(_.size).map(_.toDouble).sorted
        m(s"$layer.task_skew") = widest.last / math.max(1.0, Util.median(widest.toSeq))
      }
    }
    def rows(name: String) = spans.filter(s => s.name == name && s.rows >= 0).map(_.rows).sum.toDouble
    val cands = rows("blocking")
    val matches = rows("matching")
    m("io.rows_read") = rows("io")
    m("io.bytes_written_mb") = bytesWritten / MB
    m("blocking.candidates") = cands
    m("matching.matches") = matches
    m("matching.pairs_per_s") = if (m.getOrElse("matching.self_s", 0.0) > 0) cands / m("matching.self_s") else 0.0
    m("matching.useful_ratio") = if (cands > 0) matches / cands else 0.0
    m("fusion.records_out") = rows("fusion")
    Seq("clustering.clusters", "clustering.max_cluster", "dedup.exact_dups", "dedup.near_pairs",
      "text.docs_kept", "text.tokens_packed").foreach(k => checked.get(k).foreach(v => m(k) = v))
    m("pipeline.wall_s") = wallS
    m("pipeline.jobs") = spans.map(s => ls.stats.get(s.id).map(_.jobs).getOrElse(0)).sum.toDouble
    m("pipeline.gc_s") = gcS
    m.toMap
  }

  /** Spans and per-span counters of the whole run, as one JSON document. */
  def writeTrace(f: File, workload: String, seed: Long, tr: Tracer, ls: SpanListener): Unit =
    ls.synchronized {
      val spans = tr.spans.map { s =>
        val st = ls.stats.getOrElse(s.id, new SpanStats)
        Map("id" -> s.id, "exec" -> s.exec, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS, "rows" -> s.rows,
          "jobs" -> st.jobs, "tasks" -> st.tasks, "executor_cpu_s" -> st.cpuNs / 1e9,
          "shuffle_write_mb" -> st.shuffleWrite / MB, "spill_mb" -> st.spill / MB)
      }
      Util.writeLines(f, Seq(Util.json(Map("workload" -> workload, "seed" -> seed, "spans" -> spans))))
    }
}

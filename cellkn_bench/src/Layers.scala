package cellknbench

import scala.collection.mutable

/** Per-layer figures of a traced run. `metrics` are the ones every
  * workload reports (per timed op); `detail` is every span name's
  * per-call figures. */
final case class LayerSummary(metrics: Seq[(String, (Double, String))],
                              detail: Seq[(String, Double)])

object Layers {
  def summary(tr: Tracer, firstTimed: Int, cores: Int, samples: Seq[Sample],
              wl: Workload, ops: Int, timedS: Double, sentinelMs: Double): LayerSummary = {
    val byParent = tr.spans.groupBy(_.parent)
    val own = (s: Span) => tr.listener.flatMap(l => Option(l.bySpan.get(s.id)))
      .getOrElse(new Counters)
    def subtree(s: Span): Counters = {
      val out = new Counters
      def walk(x: Span): Unit = { out.add(own(x)); byParent.getOrElse(x.id, Nil).foreach(walk) }
      walk(s)
      out
    }
    def descendants(s: Span): Seq[Span] =
      byParent.getOrElse(s.id, Nil).toSeq.flatMap(c => c +: descendants(c))

    val opSpans = tr.spans.filter(s => s.id >= firstTimed && s.parent == -1 && s.name == "op")
    val opC = opSpans.map(s => (s, subtree(s)))
    val nOps = math.max(1, opC.size).toDouble
    def mean(f: ((Span, Counters)) => Double) = opC.map(f).sum / nOps
    val plans = opC.flatMap { case (s, c) => tr.planMs(s, c) }
    val wallSum = opC.map(_._1.wallMs).sum
    val inner = opSpans.flatMap(descendants)
    def countSum(k: String, spans: Iterable[Span]) = spans.map(_.counts.getOrElse(k, 0.0)).sum

    // useful rows over rows scanned, over the path requests
    val pathOps = opC.filter(_._1.counts.contains("paths"))
    val rowsPerPath =
      if (pathOps.isEmpty) 0.0
      else pathOps.map(_._1.counts("paths")).sum / math.max(1.0, pathOps.map(_._2.recordsRead).sum)

    val setupSpans = tr.spans.filter(s => s.parent == -1 && s.name == "setup")
    val setupC = setupSpans.map(s => (s, subtree(s)))
    val nSetups = math.max(1, setupC.size).toDouble

    def p50(c: String) = Stats.pct(samples.filter(_.cls == c).map(_.ms), 50)
    val metrics = Seq(
      "spark.plan_ms" -> (if (plans.isEmpty) 0.0 else plans.sum / plans.size, "ms"),
      "spark.jobs" -> (mean(_._2.jobs.toDouble), "count"),
      "spark.tasks" -> (mean(_._2.tasks.toDouble), "count"),
      "spark.task_busy_ms" -> (mean(_._2.busyMs.toDouble), "ms"),
      "spark.task_cpu_ms" -> (mean(_._2.cpuNs / 1e6), "ms"),
      "spark.driver_ms" -> (mean { case (s, c) => tr.driverMs(s, c) }, "ms"),
      "spark.core_util" -> (opC.map(_._2.busyMs.toDouble).sum / math.max(1e-9, wallSum * cores), "ratio"),
      "spark.shuffle_mb" -> (mean(_._2.shuffleBytes / 1048576.0), "MB"),
      "spark.spill_mb" -> (mean(_._2.spillBytes / 1048576.0), "MB"),
      "spark.gc_ms" -> (mean(_._2.gcMs.toDouble), "ms"),
      "host.sentinel_ms" -> (sentinelMs, "ms"),
      "pathqueries.rows_read_per_path" -> (rowsPerPath, "ratio"),
      "setup.spark.jobs" -> (setupC.map(_._2.jobs.toDouble).sum / nSetups, "count"),
      "setup.spark.driver_ms" -> (setupC.map { case (s, c) => tr.driverMs(s, c) }.sum / nSetups, "ms"),
      "trace.ops_per_s" -> (ops / timedS, "1/s"),
      "trace.main_p50_ms" -> (p50(wl.mainCls), "ms"),
      "trace.aux_p50_ms" -> (p50(wl.auxCls), "ms"))

    // layer calls inside the timed ops, per op; set-up layers per call
    val setupInner = setupSpans.flatMap(descendants) ++
      tr.spans.filter(s => s.parent == -1 && s.name == "dedup.pairs")
    val detail = mutable.ArrayBuffer.empty[(String, Double)]
    (inner.map(s => (s, true)) ++ setupInner.map(s => (s, false)))
      .filter(_._1.name != Tracer.Force)
      .groupBy(_._1.name).toSeq.sortBy(_._1).foreach { case (name, tagged) =>
      val ss = tagged.map(_._1)
      val cs = ss.map(s => (s, subtree(s)))
      val k = ss.size.toDouble
      if (tagged.head._2) detail += s"$name.calls_per_op" -> k / nOps
      detail += s"$name.wall_ms" -> ss.map(_.wallMs).sum / k
      detail += s"$name.jobs" -> cs.map(_._2.jobs).sum / k
      detail += s"$name.rows_read" -> cs.map(_._2.recordsRead).sum / k
      detail += s"$name.driver_ms" -> cs.map { case (s, c) => tr.driverMs(s, c) }.sum / k
      if (name == "dedup.neardup") detail += "dedup.cc_jobs" -> cs.map(_._2.frameJobs(
        "graft.operators.Dedup.connectedComponents")).sum / k
      ss.flatMap(_.counts.keys).distinct.sorted.foreach { c =>
        detail += s"$name.$c" -> countSum(c, ss) / k }
    }
    LayerSummary(metrics, detail.toSeq)
  }

  def write(tr: Tracer, path: String): Unit = Files.write(path, tr.jsonLines)
}

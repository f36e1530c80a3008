package cellknbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-listener counters summed over the jobs of one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  /** The actions the jobs ran for: the root SQL execution of each job,
    * or the job itself when it has none (see [[SpanListener]]). */
  val actions = mutable.Set.empty[String]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Program methods on the jobs' call sites, with their job counts. */
  val frameJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    recordsRead += o.recordsRead
    actions ++= o.actions
    jobIntervals ++= o.jobIntervals
    o.frameJobs.foreach { case (f, n) => frameJobs(f) += n }
  }
}

/**
 * Attributes Spark jobs, stages and tasks to benchmark spans through the
 * `cellkn.span` job-local property the tracer sets on the driver thread.
 * Only registered in traced runs; read after the listener bus drains.
 *
 * How many jobs an action runs is not fixed: adaptive execution submits
 * each query stage as a job from a pool thread, and which stages it
 * submits depends on which finish first. So the drift check counts
 * actions, not jobs, and takes a job's program frames from all its
 * stages, whose creation sites name the calls that planned them.
 */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Int, Counters]()

  private def c(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Prop)))
    p.foreach { s =>
      val span = s.toInt
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.put(st, span))
      val frames = e.stageInfos.flatMap(i => Tracer.programFrames(i.details)).toSet
      val action = Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
        .flatMap(k => Option(e.properties.getProperty(k))).headOption
        .fold(s"job ${e.jobId}")(id => s"sql $id")
      val cs = c(span)
      cs.synchronized {
        cs.jobs += 1
        cs.actions += action
        frames.foreach(f => cs.frameJobs(f) += 1)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { span =>
      val cs = c(span)
      cs.synchronized(cs.jobIntervals += ((jobStart.get(e.jobId), e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      val cs = c(span)
      cs.synchronized {
        cs.tasks += 1
        if (m != null) {
          cs.busyMs += m.executorRunTime
          cs.cpuNs += m.executorCpuTime
          cs.gcMs += m.jvmGCTime
          cs.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          cs.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          cs.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
}

/** One traced interval: a benchmark op (parent -1) or a layer call. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Long, val startNs: Long) {
  var endNs = 0L
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def wallMs: Double = (endNs - startNs) / 1e6
}

object Tracer {
  val Prop = "cellkn.span"
  /** Name of the spans [[Tracer.force]] opens. */
  val Force = "force"

  /** The program's methods (`graft.…`) on a job's call site, as
    * `package.Class.method` with Scala's lambda and object decorations
    * removed, e.g. `graft.plans.Pipelines.curateCorpus`. */
  def programFrames(callSite: String): Set[String] =
    callSite.split("\n").iterator.map(_.trim).filter(_.startsWith("graft.")).map { l =>
      val at = l.takeWhile(_ != '(')
      val i = at.lastIndexOf('.')
      val cls = at.substring(0, i).replace('$', '.').stripSuffix(".")
      val m = at.substring(i + 1).replace("$anonfun$", "")
        .replaceAll("(\\$\\d+|\\$adapted)+$", "").takeWhile(_ != '$')
      s"$cls.$m"
    }.toSet
}

/** A public entry point run beside its traced replay, compared when the
  * run ends (see [[Tracer.drift]]). */
final case class DriftPair(entry: String, method: String, public: Span, replay: Span)

/**
 * Spans around the benchmark's calls into each layer. Disabled, `span`
 * is a plain call. Enabled, spans are kept in memory and summarised or
 * written only when the run ends.
 */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** The span that closed last. */
  var closed: Span = _
  val driftPairs = mutable.ArrayBuffer.empty[DriftPair]
  /** Drift found without running anything (plan comparisons). */
  val planDrift = mutable.ArrayBuffer.empty[String]
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack ::= s
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        closed = s
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Force a layer's lazy output at its span end — traced runs only, so
    * each layer's span holds the work it causes. */
  def force(df: org.apache.spark.sql.DataFrame): Unit =
    if (enabled) span(Tracer.Force)(df.count())

  /**
   * Replay guard. Traced runs replay an entry point from its stage calls
   * so each layer gets a span; `public` runs the entry point itself on
   * the same inputs, and when the run ends [[driftFailures]] compares
   * it with the replay that ran in span `replay`. `method` is the entry
   * point as [[Tracer.programFrames]] names it.
   */
  def drift[T](entry: String, method: String, replay: Span)(public: => T): T =
    if (!enabled) public
    else {
      val out = span(s"drift.$entry")(public)
      driftPairs += DriftPair(entry, method, closed, replay)
      out
    }

  /** Own plus descendant counters of `s`, leaving out forced outputs. */
  def unforced(s: Span): Counters = {
    val kids = spans.groupBy(_.parent)
    val out = new Counters
    def walk(x: Span): Unit = if (x.name != Tracer.Force) {
      listener.flatMap(l => Option(l.bySpan.get(x.id))).foreach(out.add)
      kids.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    out
  }

  /**
   * Every replay that no longer describes its entry point: the public
   * call ran jobs from a program method the replay never reached, or a
   * different number of actions than the replay ran outside its forced
   * outputs. Read after the listener bus drains.
   */
  def driftFailures: Seq[String] = planDrift.toSeq ++ driftPairs.toSeq.flatMap { d =>
    val (p, r) = (unforced(d.public), unforced(d.replay))
    val extra = p.frameJobs.keySet.filterNot(f => f == d.method || r.frameJobs.contains(f))
    val frames =
      if (extra.isEmpty) Nil
      else Seq(s"${d.entry}: the public call ran jobs from " +
        s"${extra.toSeq.sorted.mkString(", ")}, which the replay does not call")
    val actions =
      if (p.actions.size == r.actions.size) Nil
      else Seq(s"${d.entry}: the public call ran ${p.actions.size} actions, " +
        s"the replay ${r.actions.size}")
    frames ++ actions
  }

  /** Record a count on the innermost open span. */
  def count(name: String, n: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.counts(name) = s.counts.getOrElse(name, 0.0) + n)

  /** Wall time of `s` not covered by any of its running jobs. */
  def driverMs(s: Span, c: Counters): Double = {
    val ivs = c.jobIntervals.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.wallMs - covered)
  }

  def planMs(s: Span, c: Counters): Option[Double] =
    if (c.jobIntervals.isEmpty) None
    else Some(math.max(0L, c.jobIntervals.map(_._1).min - s.startMs).toDouble)

  /** All spans as JSON lines, with their own (not subtree) counters. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = listener.flatMap(l => Option(l.bySpan.get(s.id))).getOrElse(new Counters)
    val counts = s.counts.map { case (k, v) => Files.q(k) + ":" + v }.mkString(",")
    s"""{"id":${s.id},"name":${Files.q(s.name)},"parent":${s.parent},""" +
      f""""wall_ms":${s.wallMs}%.3f,"jobs":${c.jobs},"actions":${c.actions.size},"tasks":${c.tasks},""" +
      s""""busy_ms":${c.busyMs},"cpu_ms":${c.cpuNs / 1e6},"gc_ms":${c.gcMs},""" +
      s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
      s""""records_read":${c.recordsRead},"counts":{$counts}}"""
  }
}

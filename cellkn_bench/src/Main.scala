package cellknbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated percentile; NaN when empty. */
  def pct(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toIndexedSeq.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/**
 * Benchmark driver. One run: start the session, set up (several times,
 * into fresh paths, median reported), warm up until two rounds agree,
 * then a closed loop of checked ops for the requested seconds. The last
 * stdout line is the result object; the line before it (`KN-DIAG`)
 * carries the per-class figures named in the notes, and a traced run
 * adds `KN-TRACE` with per-layer figures and writes its spans.
 *
 * Usage: Main --workload kn_serve|corpus_curate --seed N
 *             --seconds S --trace 0|1 --work DIR --traces DIR
 */
object Main {
  /** Wall-clock budget from JVM start; the timed loop stops by then. */
  private val DeadlineS = 150.0

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try run(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
        a("work"), a("traces"))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  /** A fixed Spark-free CPU loop, median of three, in ms. */
  private def sentinel(): Double = Stats.pct((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }, 50)

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: String, traces: String): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sentStart = sentinel()
    // long call sites reach the program frames the drift check reads
    if (trace) System.setProperty("spark.callstack.depth", "100")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"cellkn-bench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceStartS
    val tr = new Tracer(trace, spark.sparkContext)

    val wl: Workload = workload match {
      case "kn_serve" => new ServeWorkload(spark, tr, work, seed, cores)
      case "corpus_curate" => new CurateWorkload(spark, tr, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupMs = (0 until wl.setupReps).map(wl.runSetup)
    if (trace) wl.runDriftCheck()

    // warm-up: rounds of the same ops until one is within 10% of the last
    val warm0 = System.nanoTime()
    var prev = Double.NaN
    var rounds = 0
    var steady = false
    val roundMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (rounds < wl.maxWarmRounds && !(rounds >= wl.minWarmRounds && steady)) {
      val t0 = System.nanoTime()
      (0 until wl.warmRound).foreach(wl.runOp(_, warm = true))
      val t = (System.nanoTime() - t0) / 1e6
      roundMs += t
      steady = !prev.isNaN && math.abs(t - prev) <= 0.1 * prev
      prev = t
      rounds += 1
    }
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = sessionS + Stats.pct(setupMs, 50) / 1e3 + warmS

    // timed closed loop
    val firstTimed = tr.spans.size
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    def n(c: String) = samples.count(_.cls == c)
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var ops = 0
    while ((elapsedS < seconds || !wl.enough(n)) && sinceStartS < DeadlineS) {
      samples ++= wl.runOp(ops, warm = false)
      ops += 1
    }
    val timedS = elapsedS
    val sentEnd = sentinel()

    // live heap: each heap pool's usage right after a full GC, so what
    // Spark's own threads allocate after it does not count. Spark frees
    // some state asynchronously (its listener queues, the context cleaner),
    // later on a busy host, so the least of several spaced GCs is reported.
    def liveHeapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
    val retainedMb = (1 to 6).map { _ => System.gc(); Thread.sleep(250); liveHeapMb }.min

    def p50(c: String) = Stats.pct(samples.filter(_.cls == c).map(_.ms), 50)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (ops / timedS, "1/s"),
      "main_p50_ms" -> (p50(wl.mainCls), "ms"),
      "aux_p50_ms" -> (p50(wl.auxCls), "ms"),
      "retained_mb" -> (retainedMb, "MB"))

    val counts = samples.groupBy(_.cls).map { case (k, v) => s"n_$k" -> v.size.toDouble }
    val jvm = {
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val codeMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
      Seq("jvm.gc_ms" -> gcMs.toDouble,
        "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
        "jvm.code_cache_mb" -> codeMb)
    }
    val diag = wl.diag(samples.toSeq, timedS, ops) ++ counts ++ Seq(
      "session_s" -> sessionS, "setup_rep_median_s" -> Stats.pct(setupMs, 50) / 1e3,
      "warmup_s" -> warmS, "warmup_rounds" -> rounds.toDouble) ++
      roundMs.zipWithIndex.map { case (t, i) => s"warmup_round${i}_ms" -> t } ++ Seq( "timed_s" -> timedS,
      "host.sentinel_start_ms" -> sentStart, "host.sentinel_end_ms" -> sentEnd) ++ jvm ++
      wl.phases ++
      e2e.map { case (k, (v, _)) => k -> v }
    println("KN-DIAG " + diag.map { case (k, v) => s"${Files.q(k)}:${num(v)}" }
      .mkString("{", ",", "}"))

    val metrics: Seq[(String, (Double, String))] =
      if (!trace) e2e
      else {
        spark.stop() // drains the listener bus
        tr.driftFailures.foreach { f =>
          System.err.println(s"DRIFT: $f")
          wl.failed += 1
        }
        val layer = Layers.summary(tr, firstTimed, cores, samples.toSeq, wl, ops, timedS,
          (sentStart + sentEnd) / 2)
        Layers.write(tr, s"$traces/$workload-seed$seed.jsonl")
        println("KN-TRACE " + layer.detail.map { case (k, v) => s"${Files.q(k)}:${num(v)}" }
          .mkString("{", ",", "}"))
        layer.metrics
      }
    val ok = wl.failed == 0 && wl.attempted > 0
    val body = metrics.map { case (k, (v, u)) =>
      s"""${Files.q(k)}:{"value":${num(v)},"unit":${Files.q(u)}}""" }.mkString(",")
    println(s"""{"correct":$ok,"attempted":${wl.attempted},"failed":${wl.failed},"metrics":{$body}}""")
    if (!trace) spark.stop()
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}

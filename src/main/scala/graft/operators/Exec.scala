package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Cache discipline for operators whose plan reads an intermediate more than
 * once (both sides of a candidate self-join, size tables, etc.).
 *
 * Pattern: persist the intermediate, EAGERLY materialize the (small) result
 * via `localCheckpoint(true)` — which cuts lineage, so the intermediate is
 * no longer referenced by the returned plan — then release the intermediate
 * immediately. The checkpoint blocks themselves are reclaimed by Spark's
 * ContextCleaner once the caller drops the result, unlike CacheManager
 * entries (`df.cache()`) which pin executor memory until an explicit
 * `clearCache()`. Round-1 lesson: operator-internal `.cache()` with no
 * release inflated later bench queries 5-6× in a shared JVM.
 */
private[graft] object Exec {

  /** Run `body` with `inputs` persisted, materialize its result, release
    * the inputs. The result is small by contract (candidate pairs, a
    * signature table slice) — never the corpus. */
  def withPersisted(inputs: DataFrame*)(body: => DataFrame): DataFrame = {
    inputs.foreach(_.persist())
    try body.localCheckpoint(eager = true)
    finally inputs.foreach(_.unpersist(false))
  }

  /** Eager localCheckpoint for ROUND FRAMES of iterative loops: cuts
    * lineage AND drops the carried origin statistics. Without the stats
    * cut, a loop whose round-N plan joins round-N−1 checkpoints makes
    * Catalyst's size-product join estimate grow geometrically in DIGITS
    * per round — by round ~10 the driver is multiplying million-digit
    * BigIntegers inside the optimizer (see
    * [[org.apache.spark.sql.graft.PlanStats]] for the measured
    * pathology). Use for every per-round checkpoint; one-shot
    * checkpoints outside loops can keep their stats. */
  def checkpointCut(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.PlanStats.dropStats(df.localCheckpoint(true))

  /** Scale-adaptive partition count for iterative-loop frames (guide §2:
    * derive partitioning from input size, never a constant tuned for one
    * deployment). Uses the optimizer's FREE sizeInBytes estimate over
    * `df` — no extra pass at any scale — split into ~`bytesPerPart`
    * chunks and clamped to [1, spark.sql.shuffle.partitions]. A frame
    * with UNKNOWN stats (checkpointed round frames carry none after
    * PlanStats.dropStats) estimates as huge and clamps to the session
    * conf — exactly the pre-r14 behavior; only a provably small frame
    * shrinks its loop. Measured motivation: the per-round cost of the
    * graph loops at gate scale is ~empty-task scheduling — same-JVM
    * interleaved A/B at sf0.1 read kShell 7.78 s @
    * 32 partitions vs 5.07 s @ 2, scc 7.87 vs 4.30 — while at 100 TB
    * the estimate exceeds conf·bytesPerPart and the clamp keeps today's
    * parallelism. */
  def adaptiveParts(df: DataFrame, bytesPerPart: Long = 64L << 20): Int = {
    val conf = df.sparkSession.sessionState.conf.numShufflePartitions
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || est >= BigInt(Long.MaxValue)) conf
    else math.max(1, math.min(conf.toLong,
      ((est + bytesPerPart - 1) / bytesPerPart).toLong).toInt)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the previous value after. The iterative-loop complement
    * of [[adaptiveParts]] (guide §2: derive partitioning from data
    * size): the r14 change sized only the STATIC edge frame, which
    * leaves every per-round aggregate/checkpoint at the session conf —
    * and when the two counts differ, BOTH join children satisfy their
    * clustering with different partition counts, and Spark's
    * EnsureRequirements re-shuffles the smaller-count child to the LARGER
    * count (the max over non-shuffle children): the pre-partitioned
    * |E|-sized side re-shuffles EVERY round, exactly the exchange the
    * prep exists to avoid (r14 verdict item 2; plan-asserted in
    * GraphAlgosSpec/DedupSpec). Pinning the loop conf to the
    * size-derived count co-partitions every per-round frame with the
    * static side — zero mismatch — and sizes the per-round shuffles to
    * the data instead of the deployment (measured: kShell 7.78→5.07 s,
    * scc 7.87→4.30 s at the sf0.1 gate fixtures).
    * At 100 TB the size estimate clamps to the session conf and this is
    * a no-op. Only safe around loops whose aggregates are
    * partitioning-independent (integer/min/max exact or
    * exactFolds-sorted) — which every caller's are, gate-pinned. */
  def withShuffleParts[T](spark: org.apache.spark.sql.SparkSession,
                          n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Drop the block-manager storage behind eagerly localCheckpoint'ed
    * DataFrames. `Dataset.unpersist()` can't do this — checkpoint blocks
    * live at the RDD layer, not in the CacheManager — so iterative
    * operators that checkpoint per round would otherwise accumulate one
    * full copy of their working set PER ROUND until the ContextCleaner
    * notices (at the 100 TB target that pins many copies of the edge
    * set). Only call on frames no later plan references: a checkpoint's
    * lineage is truncated, so a released frame is NOT recomputable. */
  def releaseCheckpoint(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      df.queryExecution.analyzed.collectLeaves().foreach {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.unpersist(false)
        case _ => ()
      }
    }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Grouped statistics with engine-independent numerics — the analytics
 * staples a 100 TB curation pipeline reaches for between the heavy
 * operators (reference analog: the summary statistics the NSForest and
 * annotation writers emit per cluster, `NSForestResultsWriter.py`
 * aggregation blocks).
 *
 * The float-gate recipe throughout: every aggregation is carried in
 * exact arithmetic (BIGINT / DECIMAL(38,0) moments — associative, so
 * any partial-aggregation plan produces identical values), and each
 * IEEE double is produced by ONE fixed final expression. Rank
 * selections use the "lower value" (inverted-CDF) definition so no
 * interpolation arithmetic exists to diverge.
 *
 * Scale: every operator here is a single groupBy/window plan — partial
 * aggregation on the map side, one shuffle on the group keys, no
 * collect, no iteration. Window functions partition on the group key,
 * so skew follows key cardinality (callers group on low-skew keys or
 * pre-salt).
 */
object Stats {

  /** Exact per-key quartiles by rank selection (inverted CDF / type-1
    * "lower" quantile): the element at 1-based sorted position
    * floor((n-1)·q/4)+1. Selected VALUES are order-independent under
    * ties (the sorted multiset is unique), so no tie-break key is
    * needed and both engines pick the same element exactly.
    *
    * One window sort per key partition + one groupBy — two shuffles on
    * the same key, no interpolation arithmetic. */
  def exactQuartiles(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
    val ranked = df
      .select(col(keyCol), col(valueCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
    // `div` is integral division (Column./ on longs is IEEE division)
    def pos(q: Int): Column = expr(s"((__n - 1) * $q) div 4 + 1")
    ranked
      .filter(col("__rn") === pos(1) || col("__rn") === pos(2) ||
        col("__rn") === pos(3))
      .groupBy(col(keyCol))
      .agg(
        max(when(col("__rn") === pos(1), col(valueCol))).as("p25"),
        max(when(col("__rn") === pos(2), col(valueCol))).as("p50"),
        max(when(col("__rn") === pos(3), col(valueCol))).as("p75"),
        max(col("__n")).as("n"))
  }

  /** Per-key ordinary-least-squares y = slope·x + intercept over two
    * integral columns. Moments (n, Σx, Σy, Σxy, Σx²) are exact
    * DECIMAL(38,0) sums; numerator n·Σxy − Σx·Σy and denominator
    * n·Σx² − (Σx)² stay exact (callers keep |moments| < ~1e18 so the
    * products fit 38 digits); slope/intercept are each ONE fixed final
    * double expression. Keys with a degenerate x spread (den = 0) are
    * dropped rather than emitting ±Inf. */
  def groupedLinReg(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val x = col(xCol).cast(d38)
    val y = col(yCol).cast(d38)
    df.groupBy(col(keyCol))
      .agg(
        count(lit(1)).cast(d38).as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
      .withColumn("__num", col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__den", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .filter(col("__den") =!= 0)
      .select(
        col(keyCol),
        col("__n").cast("long").as("n"),
        (col("__num").cast("double") / col("__den").cast("double")).as("slope"),
        ((col("__sy").cast("double") -
          (col("__num").cast("double") / col("__den").cast("double")) *
            col("__sx").cast("double")) / col("__n").cast("double"))
          .as("intercept"))
  }

  /** Per-key mode with a deterministic tie-break (highest count, then
    * smallest value). Two-level aggregation: the (key, value) count is
    * map-side combined before the window picks one row per key, so the
    * window partition size is the per-key DISTINCT value count, not
    * the raw row count — skew-safe for low-cardinality value domains. */
  def modePerKey(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol), col(valueCol))
      .agg(count(lit(1)).as("n_mode"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("n_mode").desc, col(valueCol))
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .withColumnRenamed(valueCol, "mode")
  }

  /** Gaps-and-islands over integral day numbers: maximal runs of
    * consecutive distinct days per key. The island id day − row_number
    * is constant within a run (classic Tabibito trick); one distinct +
    * one window + one groupBy, all on the same key. */
  def dayStreaks(df: DataFrame, keyCol: String, dayCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
    df.select(col(keyCol), col(dayCol)).distinct()
      .withColumn("__grp", col(dayCol) - row_number().over(w))
      .groupBy(col(keyCol), col("__grp"))
      .agg(min(col(dayCol)).as("start_day"), max(col(dayCol)).as("end_day"),
        count(lit(1)).as("len"))
      .drop("__grp")
  }

  /** The lower median of an integral column per key by rank selection —
    * the element at 1-based position (n-1) div 2 + 1. Shared by the
    * robust-statistics operators; one window sort + one filter, exact. */
  def lowerMedianPerKey(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
    df.select(col(keyCol), col(valueCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .filter(col("__rn") === expr("(__n - 1) div 2 + 1"))
      .select(col(keyCol), col(valueCol).as("median"))
  }

  /** Robust outliers by median absolute deviation: rows whose absolute
    * deviation from the per-key lower median exceeds k·MAD (MAD = the
    * lower median of the absolute deviations). All-integer comparisons
    * — no 1.4826 consistency constant, no float anywhere — so every
    * flagged row is engine-independent. Two rank-selection passes plus
    * two broadcast joins of the |keys|-sized medians. */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
      k: Int = 5): DataFrame = {
    val med = broadcast(lowerMedianPerKey(df, keyCol, valueCol))
    val dev = df.join(med, keyCol)
      .withColumn("dev", abs(col(valueCol) - col("median")))
    val mad = broadcast(lowerMedianPerKey(dev, keyCol, "dev")
      .withColumnRenamed("median", "mad"))
    dev.join(mad, keyCol)
      .filter(col("dev") > lit(k) * col("mad"))
      .drop("dev")
  }

  /** Decile lift table for a ranking score against a binary label —
    * the classic gains chart: ntile(10) over the unique (score desc,
    * id) order, exact per-decile and cumulative positive counts, and
    * lift as the ONE fixed final expression
    * (cum_pos/cum_n)/(tot_pos/tot_n). The ntile/windows run over the
    * scored table; the cumulative pass runs over 10 rows.
    *
    * Scale note: an exact global ntile is a total order — one sort
    * partition. This face is for evaluation slices (model scoring
    * reports, ≤ tens of millions of rows); at corpus scale, cut the
    * deciles with KllSketch quantile boundaries instead and keep the
    * per-decile aggregation distributed. */
  def decileLift(df: DataFrame, scoreCol: String, idCol: String,
      labelCol: String): DataFrame = {
    val w = Window.orderBy(col(scoreCol).desc, col(idCol))
    val deciles = df
      .withColumn("decile", ntile(10).over(w))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("pos"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    deciles
      .withColumn("cum_n", sum(col("n")).over(cum))
      .withColumn("cum_pos", sum(col("pos")).over(cum))
      .withColumn("lift",
        (col("cum_pos").cast("double") / col("cum_n").cast("double")) /
        (sum(col("pos")).over(tot).cast("double") /
          sum(col("n")).over(tot).cast("double")))
  }

  /** One-sided CUSUM change detection per key: the sequential scan
    * S_i = max(0, S_{i-1} + (x_i − target)) over the (ord1, ord2)
    * order, reporting each key's peak statistic and the first 1-based
    * index where S crossed `threshold`. The recursion is genuinely
    * sequential (max-clamp breaks prefix-sum algebra), so this is the
    * documented mapGroups exception: groupByKey on the key, sort the
    * key's series in memory, one linear pass — all-integer state.
    * Scale: per-key series must fit one task (bounded per-key
    * activity, the sessionize contract); keys distribute freely. */
  def cusumAlarms(df: DataFrame, keyCol: String, ord1Col: String,
      ord2Col: String, valueCol: String, target: Long,
      threshold: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long"), col(ord1Col).cast("long"),
        col(ord2Col).cast("long"), col(valueCol).cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, rows) =>
        val series = rows.toArray.sortBy(r => (r._2, r._3))
        var s = 0L
        var maxS = 0L
        var firstAlarm = -1L
        var i = 0
        while (i < series.length) {
          s = math.max(0L, s + (series(i)._4 - target))
          if (s > maxS) maxS = s
          if (firstAlarm < 0 && s >= threshold) firstAlarm = i + 1L
          i += 1
        }
        (key, series.length.toLong, maxS,
          if (firstAlarm < 0) None else Some(firstAlarm))
      }
      .toDF(keyCol, "n", "max_cusum", "first_alarm")
  }

  /** Rolling volatility-breakout flags (Bollinger bands, integer-exact):
    * a row breaks out when its value leaves the ±k·σ band of the
    * PRECEDING `window` observations. The z² > k² test is
    * cross-multiplied to the all-integer comparison
    * (n·x − Σx)² > k²·(n·Σx² − (Σx)²), so no square root or division
    * exists to diverge between engines. One per-key window pass. */
  def rollingBandBreakout(df: DataFrame, keyCol: String,
      orderCols: Seq[String], valueCol: String, window: Int = 10,
      k: Int = 2, minObs: Int = 5): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-window, -1)
    val x = col(valueCol)
    df.withColumn("__n", count(x).over(w))
      .withColumn("__sx", sum(x).over(w))
      .withColumn("__sx2", sum(x * x).over(w))
      .filter(col("__n") >= minObs &&
        (col("__n") * x - col("__sx")) * (col("__n") * x - col("__sx")) >
          lit(k.toLong * k) *
            (col("__n") * col("__sx2") - col("__sx") * col("__sx")))
      .drop("__n", "__sx", "__sx2")
  }

  /** Fixed-width histogram of an integral column per key: bin i covers
    * [lo + i·width, lo + (i+1)·width), everything below lo clamps to
    * bin 0 and at-or-above hi to the last bin. One map-side-combined
    * groupBy; bins are integer divisions, so counts are exact. */
  def histogramFixed(df: DataFrame, keyCol: String, valueCol: String,
      lo: Long, width: Long, nBins: Int): DataFrame = {
    require(width > 0 && nBins > 0, "width and nBins must be positive")
    val raw = expr(s"(($valueCol - $lo) div $width)")
    val bin = least(greatest(raw, lit(0L)), lit(nBins - 1L))
    df.groupBy(col(keyCol), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Band join: all pairs (a, b) with |a.value − b.value| ≤ delta,
    * WITHOUT the cartesian product — each side buckets by
    * value div delta and b replicates to its three candidate buckets
    * (b−1, b, b+1), so the equi-join on bucket sees every qualifying
    * pair exactly once and the post-filter drops the near-misses. The
    * classic banding trick (the numeric twin of the LSH band join);
    * shuffle cost is 3× the smaller side, never |A|·|B|. Skewed value
    * clusters concentrate in one bucket — at corpus scale pick delta
    * so buckets stay bounded, or salt the hot bucket (Scale.saltedJoin
    * composes). */
  def bandJoin(a: DataFrame, b: DataFrame, valueColA: String,
      valueColB: String, delta: Long): DataFrame = {
    require(delta > 0, "delta must be positive")
    val aB = a.withColumn("__bucket", expr(s"$valueColA div $delta"))
    val bB = b.withColumn("__b0", expr(s"$valueColB div $delta"))
      .withColumn("__bucket",
        explode(array(col("__b0") - 1, col("__b0"), col("__b0") + 1)))
      .drop("__b0")
    aB.join(bB, "__bucket")
      .filter(abs(col(valueColA) - col(valueColB)) <= delta)
      .drop("__bucket")
  }

  /** Weighted lower median per key: the smallest value whose running
    * weight (over the value order) reaches ceil(W/2). Intra-tie
    * cumulative order is irrelevant — all rows of a value share the
    * value, so the selected VALUE is deterministic — and everything is
    * integer comparisons. One window pass + one groupBy. */
  def weightedMedianPerKey(df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col(keyCol))
    df.select(col(keyCol), col(valueCol), col(weightCol))
      .withColumn("__cum", sum(col(weightCol)).over(w))
      .withColumn("__tot", sum(col(weightCol)).over(tot))
      .filter(col("__cum") >= expr("(__tot + 1) div 2"))
      .groupBy(col(keyCol))
      .agg(min(col(valueCol)).as("w_median"), max(col("__tot")).as("w_total"))
  }

  /** Top-`pct`-percent rows per key by (value desc, tie) rank — keeps
    * rank ≤ max(1, (n·pct) div 100), all integer arithmetic so the
    * kept set is engine-exact. The tie column must make the order
    * total. */
  def topPercent(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String, pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, "pct must be in 1..100")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(valueCol).desc, col(tieCol))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .filter(col("__rn") <= greatest(lit(1L), expr(s"(__n * $pct) div 100")))
      .drop("__rn", "__n")
  }

  /** Per-key integer min-max normalization to 0..scale: norm =
    * (x − min)·scale div (max − min). Degenerate keys (max = min) are
    * dropped rather than dividing by zero. Exact — the floor division
    * replaces the usual float scaling. */
  def minMaxNorm(df: DataFrame, keyCol: String, valueCol: String,
      scale: Int = 10000): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
    df.withColumn("__mn", min(col(valueCol)).over(w))
      .withColumn("__mx", max(col(valueCol)).over(w))
      .filter(col("__mx") > col("__mn"))
      .withColumn("norm",
        expr(s"(($valueCol - __mn) * $scale) div (__mx - __mn)"))
      .drop("__mn", "__mx")
  }

  /** Maximum drawdown per key: the largest drop from a running peak
    * over the caller's total order — max(cummax(x) − x), with the
    * peak reported alongside. One window pass, all integers. */
  def maxDrawdown(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__peak", max(col(valueCol)).over(w))
      .groupBy(col(keyCol))
      .agg(max(col("__peak") - col(valueCol)).as("max_drawdown"),
        max(col("__peak")).as("peak"),
        count(lit(1)).as("n"))
  }

  /** Mann-Whitney U between two labeled groups, DOUBLED to stay
    * integral under midranks: for each row, 2·midrank =
    * 2·rank + ties − 1 (rank = the block's first position, ties = the
    * block size), so 2U_A = Σ_A 2·midrank − n_A(n_A+1) is exact — the
    * rank-sum test statistic with tie correction and zero floats.
    * Returns one row (n_a, n_b, u2_a, u2_b) with
    * u2_a + u2_b = 2·n_a·n_b (the identity doubles as a self-check). */
  def mannWhitneyU2(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val two = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol), col(valueCol))
    val w = Window.orderBy(col(valueCol))
    val ranked = two
      .withColumn("__r", rank().over(w))
      .withColumn("__t", count(lit(1)).over(
        Window.partitionBy(col(valueCol))))
      .withColumn("__2mr", lit(2) * col("__r") + col("__t") - 1)
    ranked.agg(
        sum(when(col(groupCol) === groupA, 1L)).as("n_a"),
        sum(when(col(groupCol) === groupB, 1L)).as("n_b"),
        sum(when(col(groupCol) === groupA, col("__2mr"))).as("__s2a"),
        sum(when(col(groupCol) === groupB, col("__2mr"))).as("__s2b"))
      .select(col("n_a"), col("n_b"),
        (col("__s2a") - col("n_a") * (col("n_a") + 1)).as("u2_a"),
        (col("__s2b") - col("n_b") * (col("n_b") + 1)).as("u2_b"))
  }

  /** ABC (Pareto) classification: items ranked by value desc (tie on
    * id), class A while the running share ≤ `aPct`%, B while ≤ `bPct`%,
    * C after — the share comparisons cross-multiplied to integers
    * (cum·100 ≤ pct·total), no division. */
  def abcClassify(df: DataFrame, idCol: String, valueCol: String,
      aPct: Int = 80, bPct: Int = 95): DataFrame = {
    val w = Window.orderBy(col(valueCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    df.withColumn("__cum", sum(col(valueCol)).over(w))
      .withColumn("__tot", sum(col(valueCol)).over(tot))
      .withColumn("abc_class",
        when(col("__cum") * 100 <= lit(aPct.toLong) * col("__tot"), "A")
          .when(col("__cum") * 100 <= lit(bPct.toLong) * col("__tot"), "B")
          .otherwise("C"))
      .drop("__cum", "__tot")
  }

  /** Gini coefficient of an integral value column (the inequality
    * census): over the (value, id)-sorted order,
    * G = (2·Σ i·x − (n+1)·Σx) / (n·Σx) — numerator and denominator
    * exact in DECIMAL(38,0), ONE final IEEE division. Callers keep
    * n·Σx < 2^53 (cap the id domain) so the exact→double casts are
    * value-preserving in any engine. Returns one row (n, total, gini).
    * One sort + one fold; the sort is a total order — report-sized
    * inputs (per-entity revenue tables, not raw corpora). */
  def giniCoefficient(df: DataFrame, idCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val w = Window.orderBy(col(valueCol), col(idCol))
    df.withColumn("__i", row_number().over(w).cast(d38))
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col(valueCol).cast(d38)).as("__sx"),
        sum(col("__i") * col(valueCol).cast(d38)).as("__six"))
      .filter(col("__sx") > 0)
      .select(col("__n").cast("long").as("n"),
        col("__sx").cast("long").as("total"),
        ((lit(2).cast(d38) * col("__six") -
          (col("__n") + 1) * col("__sx")).cast("double") /
          (col("__n") * col("__sx")).cast("double")).as("gini"))
  }

  /** Per-key lag-1 serial (Pearson) autocorrelation of an integral
    * series under a caller-supplied total order. Adjacent pairs come
    * from one lag window; the correlation uses the same exact-moment
    * recipe as [[groupedLinReg]] with the single fixed final
    * expression num / sqrt(denx · deny). Degenerate keys (fewer than
    * 2 pairs or a zero-variance side) are dropped. */
  def lag1Autocorr(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val pairs = df
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .filter(col("__prev").isNotNull)
    val x = col("__prev").cast(d38)
    val y = col(valueCol).cast(d38)
    pairs.groupBy(col(keyCol))
      .agg(
        count(lit(1)).cast(d38).as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"))
      .withColumn("__num", col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dx", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__dy", col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .filter(col("__dx") > 0 && col("__dy") > 0)
      .select(
        col(keyCol),
        col("__n").cast("long").as("n_pairs"),
        (col("__num").cast("double") /
          sqrt(col("__dx").cast("double") * col("__dy").cast("double")))
          .as("autocorr"))
  }

  /** Welch's unequal-variance t-test between two groups of an integral
    * value column. Moments (n, Σx, Σx²) are exact DECIMAL(38,0) — any
    * partial-agg plan folds them identically — and the t statistic and
    * Welch–Satterthwaite df are each ONE fixed chain of IEEE ops over
    * those exact inputs (variance numerators n·Σx² − (Σx)² stay exact
    * integers; every divide/sqrt is correctly rounded), so a second
    * engine mirroring the same expression tree reproduces the bits.
    * One shuffle (the global fold); the filter pushes to the scan. */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val x = col(valueCol).cast(d38)
    val isA = col(groupCol) === groupA
    val agg = df.filter(col(groupCol).isin(groupA, groupB))
      .agg(
        sum(when(isA, lit(1L)).otherwise(lit(0L))).cast(d38).as("__na"),
        sum(when(!isA, lit(1L)).otherwise(lit(0L))).cast(d38).as("__nb"),
        sum(when(isA, x)).as("__sa"), sum(when(!isA, x)).as("__sb"),
        sum(when(isA, x * x)).as("__qa"), sum(when(!isA, x * x)).as("__qb"))
    def dbl(c: Column): Column = c.cast("double")
    val va = dbl(agg.col("__na") * agg.col("__qa") -
      agg.col("__sa") * agg.col("__sa")) /
      dbl(agg.col("__na") * (agg.col("__na") - 1))
    val vb = dbl(agg.col("__nb") * agg.col("__qb") -
      agg.col("__sb") * agg.col("__sb")) /
      dbl(agg.col("__nb") * (agg.col("__nb") - 1))
    val sea = va / dbl(agg.col("__na"))
    val seb = vb / dbl(agg.col("__nb"))
    val se2 = sea + seb
    agg.select(
      col("__na").cast("long").as("n_a"),
      col("__nb").cast("long").as("n_b"),
      ((dbl(col("__sa")) / dbl(col("__na")) -
        dbl(col("__sb")) / dbl(col("__nb"))) / sqrt(se2)).as("t_stat"),
      ((se2 * se2) / (sea * sea / dbl(col("__na") - 1) +
        seb * seb / dbl(col("__nb") - 1))).as("df_welch"))
  }

  /** χ² contingency table: per-cell observed counts, marginals, and the
    * cell's χ² contribution — WITHOUT the cross-cell float sum (the
    * caller, or a report layer, sums; per-cell terms are each ONE IEEE
    * expression over exact BIGINTs: num = obs·N − row·col stays an
    * exact integer, contrib = num·num/(row·col·N) in fixed double
    * order). Emitting cells rather than the scalar keeps the gate
    * engine-exact AND is the more useful shape (which cells drive the
    * signal). Two shuffles: the cell count, then broadcast-joined
    * marginal folds of that small cell table. */
  def chiSquareContingency(df: DataFrame, rowCol: String,
      colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).as("obs"))
    Exec.withPersisted(cells) {
      val rowTot = cells.groupBy("r").agg(sum(col("obs")).as("row_tot"))
      val colTot = cells.groupBy("c").agg(sum(col("obs")).as("col_tot"))
      val grand = cells.agg(sum(col("obs")).as("grand_tot"))
      val num = col("obs") * col("grand_tot") - col("row_tot") * col("col_tot")
      cells
        .join(broadcast(rowTot), "r")
        .join(broadcast(colTot), "c")
        .crossJoin(broadcast(grand))
        .select(col("r"), col("c"), col("obs"), col("row_tot"),
          col("col_tot"), col("grand_tot"),
          (num.cast("double") * num.cast("double") /
            (col("row_tot") * col("col_tot") * col("grand_tot"))
              .cast("double")).as("contrib"))
    }
  }

  /** Holt linear (double-exponential) smoothing with α = β = 1/2 over a
    * per-key integral series: level l_t = (x_t + l_{t−1} + b_{t−1})/2,
    * trend b_t = (l_t − l_{t−1} + b_{t−1})/2, seeded l_1 = x_1, b_1 = 0;
    * forecast = l + b. The 1/2 coefficients make every step a halving —
    * and since BOTH faces (this sequential scan and the oracle's
    * recursive CTE) execute the identical left-associated IEEE chain,
    * the doubles hash-replay bit-for-bit regardless of length.
    *
    * Execution is a typed groupByKey + per-key sort — series are
    * report-sized (monthly rollups), the scan parallelizes across
    * keys, and state is two doubles. Callers cap the series span
    * upstream (a monthly rollup, not raw events). */
  def holtLinear(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string"), col(ordCol).cast("long"),
        col(valueCol).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, rows) =>
        val series = rows.toArray.sortBy(_._2)
        val out = new scala.collection.mutable.ArrayBuffer[
          (String, Long, Double, Double, Double)](series.length)
        var l = 0.0
        var b = 0.0
        var i = 0
        while (i < series.length) {
          val x = series(i)._3.toDouble
          if (i == 0) { l = x; b = 0.0 }
          else {
            val lPrev = l
            l = (x + l + b) * 0.5
            b = (l - lPrev + b) * 0.5
          }
          out += ((key, series(i)._2, l, b, l + b))
          i += 1
        }
        out.iterator
      }
      .toDF(keyCol, ordCol, "level", "trend", "forecast")
  }

  /** Quantile normalization: each row's value is replaced by the GLOBAL
    * value at the equivalent rank position — the batch-effect
    * correction that forces every key's distribution onto the pooled
    * one. Positions are exact integer rank arithmetic on the unique
    * (value, id) order: within-key rank r of n_k maps to global
    * position (r−1)·(N−1) div (n_k−1) + 1 (singleton keys map to the
    * global lower median), and the mapped VALUE is selected by join —
    * no interpolation, no floats anywhere. Two window sorts (per-key
    * and global) + one equi-join on position; at 100 TB the global
    * sort is the cost driver — run per stratum where the use case
    * allows. */
  def quantileNormalize(df: DataFrame, keyCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val base = df.select(col(keyCol), col(valueCol), col(idCol))
    val wk = Window.partitionBy(col(keyCol))
      .orderBy(col(valueCol), col(idCol))
    val wg = Window.orderBy(col(valueCol), col(idCol))
    val ranked = base
      .withColumn("__r", row_number().over(wk))
      .withColumn("__nk", count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .withColumn("__N", count(lit(1)).over(Window.partitionBy()))
      .withColumn("__pos",
        when(col("__nk") > 1,
          expr("(__r - 1) * (__N - 1) div (__nk - 1) + 1"))
          .otherwise(expr("(__N + 1) div 2")))
    val global = base
      .select(col(valueCol).as("__gval"), col(idCol).as("__gid"))
      .withColumn("__gpos", row_number().over(
        Window.orderBy(col("__gval"), col("__gid"))))
      .select("__gpos", "__gval")
    ranked.join(global, col("__pos") === col("__gpos"))
      .select(col(idCol), col(keyCol), col(valueCol),
        col("__gval").as("normalized"))
  }

  /** Winsorized per-key summary: values clamped at the key's exact
    * rank-selected lower/upper percentile cuts (the [[exactQuartiles]]
    * "lower value" definition at `loPct`/`hiPct`), then folded to
    * integer-exact stats — the outlier-robust mean's building blocks
    * with nothing float in the pipeline. One window sort per key +
    * one groupBy. */
  def winsorizedStats(df: DataFrame, keyCol: String, valueCol: String,
      loPct: Int = 5, hiPct: Int = 95): DataFrame = {
    require(loPct >= 0 && hiPct <= 100 && loPct < hiPct,
      "need 0 <= loPct < hiPct <= 100")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol))
    val wk = Window.partitionBy(col(keyCol))
    def pos(p: Int): Column = expr(s"(__n - 1) * $p div 100 + 1")
    val ranked = df
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__lo", max(when(col("__r") === pos(loPct),
        col(valueCol))).over(wk))
      .withColumn("__hi", max(when(col("__r") === pos(hiPct),
        col(valueCol))).over(wk))
    ranked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        min(col("__lo")).as("lo_cut"),
        min(col("__hi")).as("hi_cut"),
        sum(greatest(least(col(valueCol), col("__hi")), col("__lo")))
          .as("winsorized_sum"),
        sum(when(col(valueCol) < col("__lo"), 1L).otherwise(0L))
          .as("n_clamped_lo"),
        sum(when(col(valueCol) > col("__hi"), 1L).otherwise(0L))
          .as("n_clamped_hi"))
  }

  /** Pairwise Pearson correlation matrix of integral columns in ONE
    * pass: every moment (n, Σxᵢ, Σxᵢ², Σxᵢxⱼ) folds exactly in a
    * single map-side-combined aggregate, then each pair's coefficient
    * is the [[lag1Autocorr]] fixed IEEE expression num/√(dx·dy) —
    * p(p−1)/2 pairs materialize from the one aggregate row via an
    * explode, so the fact table is scanned once no matter how many
    * columns. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least 2 columns")
    val d38 = DecimalType(38, 0)
    def x(c: String) = col(c).cast(d38)
    val aggExprs: Seq[Column] =
      Seq(count(lit(1)).cast(d38).as("__n")) ++
        cols.map(c => sum(x(c)).as(s"__s_$c")) ++
        cols.map(c => sum(x(c) * x(c)).as(s"__q_$c")) ++
        (for (i <- cols.indices; j <- cols.indices if i < j)
          yield sum(x(cols(i)) * x(cols(j))).as(s"__p_${cols(i)}_${cols(j)}"))
    val a = df.agg(aggExprs.head, aggExprs.tail: _*)
    val pairs = for (i <- cols.indices; j <- cols.indices if i < j) yield {
      val (ci, cj) = (cols(i), cols(j))
      val num = col("__n") * col(s"__p_${ci}_${cj}") -
        col(s"__s_$ci") * col(s"__s_$cj")
      val dx = col("__n") * col(s"__q_$ci") -
        col(s"__s_$ci") * col(s"__s_$ci")
      val dy = col("__n") * col(s"__q_$cj") -
        col(s"__s_$cj") * col(s"__s_$cj")
      struct(lit(ci).as("var_a"), lit(cj).as("var_b"),
        (num.cast("double") /
          sqrt(dx.cast("double") * dy.cast("double"))).as("corr"))
    }
    a.select(col("__n").cast("long").as("n"),
        explode(array(pairs: _*)).as("__pr"))
      .select(col("__pr.var_a").as("var_a"), col("__pr.var_b").as("var_b"),
        col("n"), col("__pr.corr").as("corr"))
  }

  /** Total-variation drift of each key's bin distribution against the
    * pooled one: TVD(k) = ½·Σ_b |p_kb − q_b| computed as the exact
    * integer numerator Σ_b |n_kb·N − m_b·n_k| over 2·n_k·N — bins the
    * key never emits contribute m_b·n_k, folded in closed form as
    * (N − Σ_present m_b)·n_k, so NO key×bin cross join exists. The
    * distribution-shift audit (which source drifted from the corpus)
    * in two groupBys + one broadcast. */
  def tvdDrift(df: DataFrame, keyCol: String, binCol: String): DataFrame = {
    val cells = df.groupBy(col(keyCol).as("k"), col(binCol).as("b"))
      .agg(count(lit(1)).as("n_kb"))
    Exec.withPersisted(cells) {
      val keys = cells.groupBy("k").agg(sum(col("n_kb")).as("n_k"))
      val bins = cells.groupBy("b").agg(sum(col("n_kb")).as("m_b"))
      val tot = cells.agg(sum(col("n_kb")).as("N"))
      cells
        .join(broadcast(bins), "b")
        .join(broadcast(keys), "k")
        .crossJoin(broadcast(tot))
        .groupBy(col("k").as(keyCol))
        .agg(max(col("n_k")).as("n"),
          (sum(abs(col("n_kb") * col("N") - col("m_b") * col("n_k"))) +
            (max(col("N")) - sum(col("m_b"))) * max(col("n_k")))
            .as("tvd_num"),
          max(col("N")).as("__N"))
        .select(col(keyCol), col("n"), col("tvd_num"),
          (col("tvd_num").cast("double") /
            (lit(2L) * col("n") * col("__N")).cast("double")).as("tvd"))
    }
  }

  /** Spearman rank correlation with ties: Pearson over the DOUBLED
    * average ranks 2·rank + t − 1 (the [[mannWhitneyU2]] integer trick
    * — average ranks are half-integers, doubling keeps every moment an
    * exact integer), one fixed final IEEE expression. Two rank windows
    * + one fold; monotone-not-linear dependence [[correlationMatrix]]
    * understates. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val ranked = df
      .withColumn("__rx", lit(2) * rank().over(Window.orderBy(col(xCol))) +
        count(lit(1)).over(Window.partitionBy(col(xCol))) - 1)
      .withColumn("__ry", lit(2) * rank().over(Window.orderBy(col(yCol))) +
        count(lit(1)).over(Window.partitionBy(col(yCol))) - 1)
    val x = col("__rx").cast(d38)
    val y = col("__ry").cast(d38)
    ranked.agg(count(lit(1)).cast(d38).as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"), sum(x * y).as("__sxy"),
        sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
      .select(col("__n").cast("long").as("n"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          .cast("double") /
          sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx"))
            .cast("double") *
            (col("__n") * col("__syy") - col("__sy") * col("__sy"))
              .cast("double"))).as("rho"))
  }

  /** Two-proportion z-test: does the success rate differ between two
    * groups — exact counts, then the z statistic as ONE fixed IEEE
    * chain over them (pooled p̂, the conversion-rate A/B staple).
    * Single map-side-combined fold. */
  def twoProportionZ(df: DataFrame, groupCol: String, successCol: String,
      groupA: String, groupB: String): DataFrame = {
    val isA = col(groupCol) === groupA
    val s = col(successCol)
    val agg = df.filter(col(groupCol).isin(groupA, groupB))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isA && s, 1L).otherwise(0L)).as("s_a"),
        sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
        sum(when(!isA && s, 1L).otherwise(0L)).as("s_b"))
    def dbl(c: Column): Column = c.cast("double")
    val p1 = dbl(col("s_a")) / dbl(col("n_a"))
    val p2 = dbl(col("s_b")) / dbl(col("n_b"))
    val p = dbl(col("s_a") + col("s_b")) / dbl(col("n_a") + col("n_b"))
    agg.select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
      ((p1 - p2) / sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / dbl(col("n_a")) + lit(1.0) / dbl(col("n_b")))))
        .as("z_stat"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic: D = max_v |F_A(v) −
    * F_B(v)| carried as the exact integer numerator
    * max |cumA·n_B − cumB·n_A| over the per-distinct-value cumulative
    * counts (one value-ordered window), with ONE final division. The
    * heavier drift test next to [[tvdDrift]] — order-sensitive, so it
    * sees shape shifts equal-bin TVD misses. */
  def ksStatistic(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val two = df.filter(col(groupCol).isin(groupA, groupB))
    val perVal = two.groupBy(col(valueCol).as("v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    perVal
      .withColumn("__cumA", sum(col("ca")).over(w))
      .withColumn("__cumB", sum(col("cb")).over(w))
      .withColumn("__na", sum(col("ca")).over(all))
      .withColumn("__nb", sum(col("cb")).over(all))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(abs(col("__cumA") * col("__nb") - col("__cumB") * col("__na")))
          .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("d_stat"))
  }

  /** Lagged cross-correlation of two integral series sharing an integer
    * time axis: Pearson corr of (x_t, y_{t+lag}) over inner-joined
    * points, with the [[groupedLinReg]] exact-moment recipe — five
    * BIGINT/DECIMAL folds, corr = num/√(dx·dy) as ONE fixed IEEE
    * expression. The lead/lag-indicator question ("do clicks predict
    * purchases an hour later?") as one self-join + one fold. */
  def crossCorrelation(df: DataFrame, ordCol: String, xCol: String,
      yCol: String, lag: Long): DataFrame = {
    val d38 = DecimalType(38, 0)
    val xs = df.select((col(ordCol) + lag).as("__t"), col(xCol).as("__x"))
    val ys = df.select(col(ordCol).as("__t"), col(yCol).as("__y"))
    val x = col("__x").cast(d38)
    val y = col("__y").cast(d38)
    xs.join(ys, "__t")
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"))
      .withColumn("__num",
        col("__n") * col("__sxy") - col("__sx") * col("__sy"))
      .withColumn("__dx",
        col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("__dy",
        col("__n") * col("__syy") - col("__sy") * col("__sy"))
      .filter(col("__dx") > 0 && col("__dy") > 0)
      .select(col("__n").cast("long").as("n_points"),
        (col("__num").cast("double") /
          sqrt(col("__dx").cast("double") * col("__dy").cast("double")))
          .as("cross_corr"))
  }

  /** Confusion-matrix evaluation of a boolean prediction against a
    * boolean truth: exact tp/fp/fn/tn counts in ONE map-side-combined
    * fold, then precision, recall, and F1 each as a single IEEE
    * division over exact integers (F1 via 2tp/(2tp+fp+fn) — one
    * division, not the P/R composition, so there is no intermediate
    * rounding to mirror). */
  def confusionStats(df: DataFrame, predCol: String,
      truthCol: String): DataFrame = {
    val p = col(predCol)
    val t = col(truthCol)
    df.agg(
        sum(when(p && t, 1L).otherwise(0L)).as("tp"),
        sum(when(p && !t, 1L).otherwise(0L)).as("fp"),
        sum(when(!p && t, 1L).otherwise(0L)).as("fn"),
        sum(when(!p && !t, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        ((lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
  }

  /** Rank AUC (the probability a positive outranks a negative, ties at
    * half credit): AUC = U/(n₊·n₀) off the exact tie-corrected
    * [[mannWhitneyU2]] doubled statistic — integer rank sums end to
    * end, ONE final division. The classifier-free evaluation twin of
    * the Mann-Whitney gate. */
  def rankAuc(df: DataFrame, groupCol: String, valueCol: String,
      positive: String, negative: String): DataFrame =
    mannWhitneyU2(df, groupCol, valueCol, positive, negative)
      .select(col("n_a"), col("n_b"),
        (col("u2_a").cast("double") /
          (lit(2L) * col("n_a") * col("n_b")).cast("double")).as("auc"))

  /** Leave-one-out target encoding: each row's category is replaced by
    * the mean target of the OTHER rows in its category — the standard
    * high-cardinality categorical feature that, computed naively
    * (full-category mean), leaks the row's own label into its feature.
    * Category moments (n, Σtarget) fold exactly as BIGINTs; the
    * encoding is ONE division per row over exact integers:
    * (Σ − own)/(n − 1), falling back to the leave-one-out GLOBAL mean
    * for singleton categories. One groupBy + one broadcast join (the
    * category table is |categories|-sized) — no window, no second
    * shuffle of the fact table. */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
      idCol: String): DataFrame = {
    val cats = df.groupBy(col(catCol))
      .agg(count(lit(1)).as("__n"), sum(col(targetCol)).as("__s"))
    val glob = df.agg(count(lit(1)).as("__ng"),
      sum(col(targetCol)).as("__sg"))
    df.select(col(idCol), col(catCol), col(targetCol))
      .join(broadcast(cats), Seq(catCol))
      .crossJoin(broadcast(glob))
      .select(col(idCol), col(catCol), col(targetCol),
        when(col("__n") > 1,
          (col("__s") - col(targetCol)).cast("double") /
            (col("__n") - 1).cast("double"))
          .otherwise(
            (col("__sg") - col(targetCol)).cast("double") /
              (col("__ng") - 1).cast("double")).as("loo_mean"))
  }

  /** Benford leading-digit census of a positive integral column — the
    * classic fabricated-data / parser-bug audit. The leading digit is
    * taken textually (first char of the decimal rendering — identical
    * in any engine for positive integers, no log10 float), counts are
    * exact, and the share is an exact integer per-mille
    * (n·1000 div total). One groupBy on 9 keys. */
  /** Cohen's kappa inter-rater agreement over two label columns — the
    * label-quality staple of a human/model annotation pipeline (are two
    * annotators, or a model and a gold set, agreeing beyond chance?).
    *
    * Exact by construction: the observed-agreement count and the
    * chance-agreement cross-marginal Σ row_c·col_c are BIGINT folds, and
    * po / pe / kappa are each ONE final IEEE division over exact
    * integers — kappa = (N·agree − Σm₁m₂) / (N² − Σm₁m₂), no float
    * intermediate anywhere (the Welch/χ² file-header recipe).
    *
    * Scale: two map-side-combined category censuses (|categories| rows
    * each) broadcast-joined, plus one count — never a shuffle of the
    * data by anything but the tiny category key. */
  def cohenKappa(df: DataFrame, rater1Col: String,
      rater2Col: String): DataFrame = {
    val base = df.select(col(rater1Col).as("__r1"), col(rater2Col).as("__r2"))
    val agg = base.agg(
      count(lit(1)).as("__n"),
      sum(when(col("__r1") === col("__r2"), 1L).otherwise(0L)).as("__agree"))
    val m1 = base.groupBy(col("__r1").as("__c")).agg(count(lit(1)).as("__m1"))
    val m2 = base.groupBy(col("__r2").as("__c")).agg(count(lit(1)).as("__m2"))
    val cross = m1.join(m2, Seq("__c"))
      .agg(coalesce(sum(col("__m1") * col("__m2")), lit(0L)).as("__mm"))
    def dbl(c: Column): Column = c.cast("double")
    agg.crossJoin(broadcast(cross)).select(
      col("__n").as("n"),
      col("__agree").as("n_agree"),
      col("__mm").as("cross_marginal"),
      (dbl(col("__agree")) / dbl(col("__n"))).as("po"),
      (dbl(col("__mm")) / dbl(col("__n") * col("__n"))).as("pe"),
      (dbl(col("__n") * col("__agree") - col("__mm")) /
        dbl(col("__n") * col("__n") - col("__mm"))).as("kappa"))
  }

  /** One-way ANOVA between-group decomposition. Values enter as exact
    * integers (caller pre-scales, the cents convention); per-group
    * moments (n, Σx, Σx²) are BIGINT folds. The cross-group float sum
    * Σ_g s_g²/n_g is a SORTED sequential fold over the per-group structs
    * (the q94 convention — DuckDB replays it with
    * `list_sum(list(... ORDER BY grp))`), after which SSB/SSW/F are a
    * fixed chain of IEEE expressions. Emits ONE row: k, n, the two exact
    * global moments, ssb, ssw, f_stat.
    *
    * Scale: one groupBy to |groups| rows, then a single collect-free
    * 1-row fold — the group census is tiny by contract (ANOVA with
    * millions of groups is a different test). */
  def anovaOneWay(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val x = col(valueCol).cast(d38)
    val perGroup = df.groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).cast(d38).as("__ng"),
        sum(x).as("__sg"), sum(x * x).as("__qg"))
    def dbl(c: Column): Column = c.cast("double")
    perGroup.agg(
        count(lit(1)).as("k"),
        sum(col("__ng")).as("__n"),
        sum(col("__sg")).as("__s"),
        sum(col("__qg")).as("__q"),
        // deterministic cross-group sum: fold in group order
        aggregate(
          sort_array(collect_list(struct(col("__g"),
            (dbl(col("__sg") * col("__sg")) / dbl(col("__ng"))).as("__t")))),
          lit(0.0d), (acc, s) => acc + s.getField("__t")).as("__sq"))
      .select(
        col("k"), col("__n").cast("long").as("n"),
        col("__s").cast("double").as("sum_x"),
        col("__q").cast("double").as("sum_x2"),
        (col("__sq") - dbl(col("__s") * col("__s")) / dbl(col("__n")))
          .as("ss_between"),
        (dbl(col("__q")) - col("__sq")).as("ss_within"),
        (((col("__sq") - dbl(col("__s") * col("__s")) / dbl(col("__n"))) /
            dbl(col("k") - 1)) /
          ((dbl(col("__q")) - col("__sq")) /
            dbl(col("__n").cast("long") - col("k")))).as("f_stat"))
  }

  /** Brown–Forsythe test (Levene's test centered at the MEDIAN) for
    * variance homogeneity across k groups: zᵢ = |xᵢ − med_g| with each
    * group median the exact type-1 lower median, then the
    * [[anovaOneWay]] F machinery verbatim on z — same exact moments,
    * same sorted cross-group fold, same fixed final chain. Emits the
    * ANOVA row with `f_stat` as the Brown–Forsythe W. */
  def brownForsythe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("__g"),
      col(valueCol).cast("long").as("__v"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val meds = base
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .filter(col("__r") === expr("(__n + 1) div 2"))
      .select(col("__g"), col("__v").as("__med"))
    val z = base.join(meds, Seq("__g"))
      .select(col("__g"), abs(col("__v") - col("__med")).as("__z"))
    anovaOneWay(z, "__g", "__z")
      .withColumnRenamed("f_stat", "w")
  }

  /** Mood's median test: k groups against the GLOBAL (type-1 lower)
    * median — values equal to it are dropped (the continuity-safe
    * convention), the k×2 above/below table feeds the χ² fold
    * term_g = (a_g·N − n_g·A)²/(n_g·A·N) + (b_g·N − n_g·B)²/(n_g·B·N)
    * — each term one fixed chain of exact DECIMAL(38,0) integers,
    * folded in group order (the q237 recipe). NULL χ² when either
    * margin is empty. */
  def moodsMedian(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(groupCol).cast("string").as("__g"),
      col(valueCol).cast("long").as("__v"))
    Exec.withPersisted(base) {
      val med = base
        .withColumn("__r",
          row_number().over(Window.orderBy(col("__v"), col("__g"))))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
        .filter(col("__r") === expr("(__n + 1) div 2"))
        .select(col("__v").as("__med"))
      val per = base.crossJoin(broadcast(med))
        .filter(col("__v") =!= col("__med"))
        .groupBy("__g")
        .agg(sum(when(col("__v") > col("__med"), 1L).otherwise(0L))
            .cast(d38).as("__a"),
          sum(when(col("__v") < col("__med"), 1L).otherwise(0L))
            .cast(d38).as("__b"))
        .withColumn("__ng", col("__a") + col("__b"))
      val tots = per.agg(sum(col("__a")).as("__ta"),
        sum(col("__b")).as("__tb"), sum(col("__ng")).as("__tn"))
      per.crossJoin(broadcast(tots))
        .select(col("__g"), col("__a"), col("__b"), col("__ta"),
          col("__tb"), col("__tn"),
          (dbl((col("__a") * col("__tn") - col("__ng") * col("__ta")) *
            (col("__a") * col("__tn") - col("__ng") * col("__ta"))) /
            dbl(col("__ng") * col("__ta") * col("__tn")) +
           dbl((col("__b") * col("__tn") - col("__ng") * col("__tb")) *
            (col("__b") * col("__tn") - col("__ng") * col("__tb"))) /
            dbl(col("__ng") * col("__tb") * col("__tn"))).as("__t"))
        .agg(count(lit(1)).as("k"),
          max(col("__tn")).cast("long").as("n"),
          max(col("__ta")).cast("long").as("n_above"),
          max(col("__tb")).cast("long").as("n_below"),
          when(max(col("__ta")) > 0 && max(col("__tb")) > 0,
            aggregate(
              sort_array(collect_list(struct(col("__g"), col("__t")))),
              lit(0.0d), (acc, s) => acc + s.getField("__t")))
            .as("chi2"))
    }
  }

  /** Benjamini–Hochberg step-up FDR control over per-test p-values:
    * rank ascending, find the largest rank i with p·m ≤ q·i, reject
    * every test at or below it. The comparison is carried as
    * p·m·qDenom ≤ qNum·i — q enters as an exact rational, so both
    * engines evaluate the SAME double comparison (one multiply chain,
    * no division) and the reject frontier is deterministic.
    *
    * Scale: one global sort window (BH is a total-order procedure by
    * definition — at 10⁹ tests, pre-aggregate to unique p-values first)
    * plus a running max; no collect. */
  def bhReject(df: DataFrame, idCol: String, pCol: String,
      qNum: Long = 5, qDenom: Long = 100): DataFrame = {
    val m = df.agg(count(lit(1)).as("__m"))
    val w = Window.orderBy(col(pCol), col(idCol))
    val ranked = df.crossJoin(broadcast(m))
      .withColumn("__rank", row_number().over(w))
      .withColumn("__ok",
        col(pCol) * col("__m").cast("double") * lit(qDenom.toDouble) <=
          lit(qNum.toDouble) * col("__rank").cast("double"))
    val frontier = Window.orderBy(col(pCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked
      .withColumn("__cut",
        max(when(col("__ok"), col("__rank"))).over(frontier))
      .select(col(idCol), col(pCol), col("__rank").as("rank"),
        (col("__cut").isNotNull && col("__rank") <= col("__cut"))
          .as("rejected"))
  }

  def benfordCensus(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df.filter(col(valueCol) > 0)
      .select(substring(col(valueCol).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    Exec.withPersisted(digits) {
      val tot = digits.agg(sum(col("n")).as("__tot"))
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("(n * 1000) div __tot").as("permille"))
    }
  }

  /** Fleiss' kappa — the multi-rater generalization of
    * [[cohenKappa]] (r raters assign each item one of k categories;
    * did they agree beyond chance?). Input is the long rating shape:
    * one row per (item, rating). Contract: every item carries the SAME
    * number of ratings r (the Fleiss precondition); r is derived as
    * total div items and spec-pinned.
    *
    * Exact by construction: S2 = Σ_ij n_ij² and C2 = Σ_j c_j² are
    * BIGINT folds over the (item, category) census, and
    * p_bar = (S2 − T) / (T(r−1)), pe = C2 / T², kappa =
    * (p_bar − pe) / (1 − pe) are each a fixed IEEE chain over those
    * exact integers (T = total ratings) — the same chain DuckDB
    * evaluates, so the gate compares bit-for-bit.
    *
    * Scale: one (item, category) groupBy (map-side combined), then two
    * tiny aggregations — the item census shrinks to |items| rows and
    * the category census to |k| rows; no all-ratings shuffle beyond
    * the first census. */
  def fleissKappa(df: DataFrame, itemCol: String,
      categoryCol: String): DataFrame = {
    val nij = df.groupBy(col(itemCol).as("__i"),
        col(categoryCol).as("__c"))
      .agg(count(lit(1)).as("__n"))
    Exec.withPersisted(nij) {
      val items = nij.agg(
        sum(col("__n")).as("__t"),
        count_distinct(col("__i")).as("__items"),
        sum(col("__n") * col("__n")).as("__s2"))
      val cats = nij.groupBy("__c").agg(sum(col("__n")).as("__cj"))
        .agg(coalesce(sum(col("__cj") * col("__cj")), lit(0L)).as("__c2"))
      def dbl(c: Column): Column = c.cast("double")
      items.crossJoin(broadcast(cats))
        .withColumn("__r", expr("__t div __items"))
        .withColumn("__pbar",
          dbl(col("__s2") - col("__t")) /
            dbl(col("__t") * (col("__r") - 1)))
        .withColumn("__pe", dbl(col("__c2")) / dbl(col("__t") * col("__t")))
        .select(col("__items").as("n_items"), col("__r").as("n_raters"),
          col("__s2").as("s2"), col("__c2").as("c2"),
          col("__pbar").as("p_bar"), col("__pe").as("pe"),
          ((col("__pbar") - col("__pe")) / (lit(1.0d) - col("__pe")))
            .as("kappa"))
    }
  }

  /** Kruskal–Wallis H (rank one-way ANOVA) over an integral value
    * column, with the tie correction. Midranks ride the
    * [[mannWhitneyU2]] doubling trick — 2·midrank = 2·cum + t + 1 is
    * an exact BIGINT — but computed over the VALUE CENSUS, not the
    * rows: rank windows run over |distinct values| (vocabulary-sized),
    * never a global per-row sort, so the plan survives 10⁹ rows with a
    * skew-free (group, value) shuffle plus a tiny census window.
    *
    * H = 12/(N(N+1)) · Σ_g S_g²/(4·n_g) · ... carried as: per-group
    * rank-sums S2_g = Σ n_gv(2cum_v + t_v + 1) exact DECIMAL(38,0),
    * the cross-group Σ (S2_g)²/(4n_g) a SORTED sequential fold (the
    * q237 ANOVA convention; squares >2^53 go through the
    * VARCHAR-mediated oracle cast), tie term Σ(t³−t) exact, and
    * h / h_adj each one fixed IEEE chain. Emits ONE row:
    * k, n, tie_sum, h, h_adj. */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val ngv = df.groupBy(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__ngv"))
    Exec.withPersisted(ngv) {
      val census = ngv.groupBy("__v").agg(sum(col("__ngv")).as("__t"))
        .withColumn("__cum",
          coalesce(sum(col("__t")).over(Window.orderBy(col("__v"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val perGroup = ngv.join(census, Seq("__v"))
        .groupBy("__g")
        .agg(sum(col("__ngv")).as("__ng"),
          sum(col("__ngv").cast(d38) *
            (lit(2) * col("__cum") + col("__t") + 1)).as("__s2g"))
      val ties = census.agg(
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__tie"),
        sum(col("__t")).as("__n"))
      def dbl(c: Column): Column = c.cast("double")
      perGroup.agg(
          count(lit(1)).as("k"),
          // deterministic cross-group fold in group order (q237 recipe)
          aggregate(
            sort_array(collect_list(struct(col("__g"),
              (dbl(col("__s2g") * col("__s2g")) /
                dbl(lit(4).cast(d38) * col("__ng"))).as("__term")))),
            lit(0.0d), (acc, s) => acc + s.getField("__term")).as("__sq"))
        .crossJoin(broadcast(ties))
        .withColumn("__h",
          lit(12.0d) * col("__sq") /
            dbl(col("__n").cast(d38) * (col("__n") + 1)) -
            lit(3.0d) * dbl(col("__n") + 1))
        .select(col("k"), col("__n").as("n"), col("__tie").as("tie_sum"),
          col("__h").as("h"),
          (col("__h") / (lit(1.0d) - dbl(col("__tie")) /
            dbl(col("__n").cast(d38) * col("__n") * col("__n") -
              col("__n")))).as("h_adj"))
    }
  }

  /** Calibration (reliability) bins for an integer-rational score —
    * the model-eval staple (is a quality/domain classifier's 0.7
    * actually 70%?). Scores enter as an integer numerator over a fixed
    * power-of-two denominator (the md5-slice convention used by every
    * score gate here), so binning (num·bins div den, capped) and every
    * per-bin moment (n, n_pos, Σnum) are EXACT integers;
    * mean_pred = Σnum/(n·den), frac_pos and gap are each one fixed
    * IEEE chain. One groupBy to ≤`bins` rows — map-side combined,
    * trivially scale-safe. */
  def calibrationBins(df: DataFrame, scoreNumCol: String,
      scoreDen: Long, labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    df.select(col(scoreNumCol).cast("long").as("__num"),
        col(labelCol).cast("long").as("__y"))
      .withColumn("__bin",
        least(expr(s"(__num * $bins) div ${scoreDen}L"), lit(bins - 1)))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__num").cast(d38)).as("__snum"))
      .select(col("bin"), col("n"), col("n_pos"),
        col("__snum").cast("long").as("sum_num"),
        (dbl(col("__snum")) / dbl(col("n").cast(d38) * scoreDen))
          .as("mean_pred"),
        (dbl(col("n_pos")) / dbl(col("n"))).as("frac_pos"),
        (dbl(col("n_pos")) / dbl(col("n")) -
          dbl(col("__snum")) / dbl(col("n").cast(d38) * scoreDen))
          .as("gap"))
  }

  /** Brier score with the Murphy reliability/resolution/uncertainty
    * decomposition, all-exact: with p = num/den,
    * Σ(p−y)² = (Σnum² − 2·den·Σ(num·y) + den²·Σy)/den² is a pure
    * DECIMAL(38,0) fold (ONE final division by n·den²);
    * REL = Σ_b (Σnum_b − den·pos_b)²/(n_b·den²) / N and
    * RES = Σ_b (N·pos_b − n_b·P)²/(n_b·N²) / N cross-multiply each
    * bin's squared gap to exact integers (one division per bin, sorted
    * fold over ≤bins terms — the q237 convention), and
    * UNC = P(N−P)/N² is one division. The >2^53 squares ride the
    * VARCHAR-mediated oracle cast (q216 lesson). Emits ONE row.
    * Note brier ≠ rel − res + unc exactly — binning makes the Murphy
    * identity hold only when forecasts are constant within bins. */
  def brierDecomposition(df: DataFrame, scoreNumCol: String,
      scoreDen: Long, labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(scoreNumCol).cast("long").as("__num"),
        col(labelCol).cast("long").as("__y"))
      .withColumn("__bin",
        least(expr(s"(__num * $bins) div ${scoreDen}L"), lit(bins - 1)))
    val perBin = base.groupBy("__bin")
      .agg(count(lit(1)).cast(d38).as("__nb"), sum(col("__y")).cast(d38)
        .as("__pb"), sum(col("__num").cast(d38)).as("__sb"),
        sum(col("__num").cast(d38) * col("__num")).as("__qb"),
        sum(col("__num").cast(d38) * col("__y")).as("__xb"))
    perBin.agg(
        sum(col("__nb")).as("__n"), sum(col("__pb")).as("__p"),
        sum(col("__qb")).as("__q"), sum(col("__xb")).as("__x"),
        collect_list(struct(col("__bin"), col("__nb"), col("__pb"),
          col("__sb"))).as("__bins"))
      .withColumn("__relsum",
        aggregate(sort_array(col("__bins")), lit(0.0d), (acc, b) => {
          val gap = b.getField("__sb") - lit(scoreDen).cast(d38) *
            b.getField("__pb")
          acc + dbl(gap * gap) /
            dbl(b.getField("__nb") * scoreDen * scoreDen)
        }))
      .withColumn("__ressum",
        aggregate(sort_array(col("__bins")), lit(0.0d), (acc, b) => {
          val gap = col("__n") * b.getField("__pb") -
            b.getField("__nb") * col("__p")
          acc + dbl(gap * gap) /
            dbl(b.getField("__nb") * col("__n") * col("__n"))
        }))
      .select(col("__n").cast("long").as("n"),
        ((dbl(col("__q")) - lit(2.0d * scoreDen) * dbl(col("__x")) +
          lit(scoreDen.toDouble * scoreDen) * dbl(col("__p"))) /
          dbl(col("__n") * scoreDen * scoreDen)).as("brier"),
        (col("__relsum") / dbl(col("__n"))).as("reliability"),
        (col("__ressum") / dbl(col("__n"))).as("resolution"),
        (dbl(col("__p") * (col("__n") - col("__p"))) /
          dbl(col("__n") * col("__n"))).as("uncertainty"))
  }

  /** Cramér's V — the [0,1]-normalized effect size of a contingency
    * table ([[chiSquareContingency]]'s scalar face). χ² folds the
    * per-cell exact-integer contributions (obs·N − row·col)²/(row·col·N)
    * in (r,c)-sorted order (the q237 convention; squares pass 2^53 so
    * the oracle VARCHAR-mediates), then
    * V = sqrt(χ² / (N·(min(R,C)−1))) — sqrt is IEEE-correctly-rounded,
    * so the chain stays engine-exact. One cell census + tiny folds. */
  def cramersV(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val cells = df.groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("obs"))
    Exec.withPersisted(cells) {
      val rowTot = cells.groupBy("r").agg(sum(col("obs")).as("row_tot"))
      val colTot = cells.groupBy("c").agg(sum(col("obs")).as("col_tot"))
      val grand = cells.agg(sum(col("obs")).as("grand_tot"))
      val num = (col("obs").cast(d38) * col("grand_tot") -
        col("row_tot").cast(d38) * col("col_tot"))
      // the FULL R×C grid: zero-observed cells still carry expected
      // mass (row·col/N) and therefore χ² contribution — a census of
      // observed cells alone undercounts perfect associations
      rowTot.crossJoin(colTot)
        .join(cells, Seq("r", "c"), "left")
        .withColumn("obs", coalesce(col("obs"), lit(0L)))
        .crossJoin(broadcast(grand))
        .select(col("r"), col("c"), col("grand_tot"),
          (dbl(num * num) /
            dbl(col("row_tot").cast(d38) * col("col_tot") *
              col("grand_tot"))).as("__contrib"))
        .agg(count_distinct(col("r")).as("n_rows"),
          count_distinct(col("c")).as("n_cols"),
          first(col("grand_tot")).as("n"),
          aggregate(
            sort_array(collect_list(struct(col("r"), col("c"),
              col("__contrib").as("__t")))),
            lit(0.0d), (acc, s) => acc + s.getField("__t")).as("chi2"))
        .select(col("n"), col("n_rows"), col("n_cols"), col("chi2"),
          sqrt(col("chi2") /
            dbl(col("n") * (least(col("n_rows"), col("n_cols")) - 1)))
            .as("v"))
    }
  }

  /** Kendall's τ-b over two ORDINAL columns, computed on the value-pair
    * CENSUS: concordant/discordant mass is Σ n₁·n₂ over census-cell
    * pairs with x strictly ordered (each unordered pair counted once),
    * tie masses fold per marginal — all DECIMAL(38,0) exact, and
    * τ-b = (C−D)/sqrt((n₀−T_x)(n₀−T_y)) is one division + one
    * correctly-rounded sqrt.
    *
    * Scale contract: the census self-join is |census|² — τ-b is an
    * ordinal-scale statistic (ratings, grades, bucketed scores), so
    * distinct-pair cardinality is bounded by design; for continuous
    * data bucket first (or this becomes the O(n²) it should never
    * be). */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val census = df.groupBy(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .agg(count(lit(1)).cast(d38).as("cnt"))
    Exec.withPersisted(census) {
      val a = census.select(col("x").as("xa"), col("y").as("ya"),
        col("cnt").as("na"))
      val b = census.select(col("x").as("xb"), col("y").as("yb"),
        col("cnt").as("nb"))
      val cd = a.crossJoin(b).filter(col("xa") < col("xb"))
        .agg(
          coalesce(sum(when(col("ya") < col("yb"),
            col("na") * col("nb"))), lit(0).cast(d38)).as("__c"),
          coalesce(sum(when(col("ya") > col("yb"),
            col("na") * col("nb"))), lit(0).cast(d38)).as("__d"))
      val tx = census.groupBy("x").agg(sum(col("cnt")).as("nx"))
        .agg(coalesce(sum(col("nx") * (col("nx") - 1)), lit(0).cast(d38))
          .as("__tx2"))
      val ty = census.groupBy("y").agg(sum(col("cnt")).as("ny"))
        .agg(coalesce(sum(col("ny") * (col("ny") - 1)), lit(0).cast(d38))
          .as("__ty2"))
      val tot = census.agg(sum(col("cnt")).as("__n"))
      cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .crossJoin(broadcast(tot))
        .withColumn("__n02", col("__n") * (col("__n") - 1))
        .select(
          col("__n").cast("long").as("n"),
          col("__c").cast("long").as("concordant"),
          col("__d").cast("long").as("discordant"),
          expr("CAST(__tx2 / 2 AS LONG)").as("tie_x"),
          expr("CAST(__ty2 / 2 AS LONG)").as("tie_y"),
          // 2× both factors: (n0−Tx)(n0−Ty) = (n02−tx2)(n02−ty2)/4,
          // and (C−D)/sqrt(../4) = 2(C−D)/sqrt(..) — all exact inside
          (lit(2.0d) * dbl(col("__c") - col("__d")) /
            sqrt(dbl((col("__n02") - col("__tx2")) *
              (col("__n02") - col("__ty2"))))).as("tau_b"))
    }
  }

  /** Mann–Kendall trend test over an integral series: S = Σ_{i<j}
    * sign(x_j − x_i) with the tie-corrected variance
    * 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) — both exact
    * DECIMAL(38,0) — and the continuity-corrected
    * z = (S∓1)/sqrt(Var) as one fixed chain. The monotone-trend
    * staple (is the metric drifting?) that needs no distributional
    * assumption.
    *
    * Scale contract: the pair join is O(n²) BY DEFINITION of S — this
    * runs on the pre-aggregated series grain (daily/hourly rollups,
    * calendar-bounded), never raw events; `idxCol` must be unique. */
  def mannKendall(df: DataFrame, idxCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(idxCol).as("__i"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val a = base.select(col("__i").as("ia"), col("__x").as("xa"))
      val b = base.select(col("__i").as("ib"), col("__x").as("xb"))
      val s = a.crossJoin(b).filter(col("ia") < col("ib"))
        .agg(coalesce(sum(signum(col("xb") - col("xa")).cast("long")),
          lit(0L)).as("__s"))
      val ties = base.groupBy("__x").agg(count(lit(1)).cast(d38).as("__t"))
        .agg(sum(col("__t")).as("__n"),
          coalesce(sum(col("__t") * (col("__t") - 1) *
            (col("__t") * 2 + 5)), lit(0).cast(d38)).as("__tt"))
      s.crossJoin(broadcast(ties))
        .withColumn("__var18",
          col("__n") * (col("__n") - 1) * (col("__n") * 2 + 5) -
            col("__tt"))
        .select(col("__n").cast("long").as("n"), col("__s").as("s"),
          col("__var18").cast("long").as("var18"),
          when(col("__s") > 0,
            dbl(col("__s") - 1) / sqrt(dbl(col("__var18")) / lit(18.0d)))
            .when(col("__s") < 0,
              dbl(col("__s") + 1) / sqrt(dbl(col("__var18")) / lit(18.0d)))
            .otherwise(lit(0.0d)).as("z"))
    }
  }

  /** Theil–Sen robust trend: slope = lower-median of all pairwise
    * slopes (y_j−y_i)/(x_j−x_i), intercept = lower-median of
    * y_i − slope·x_i. Each slope is ONE IEEE division of exact
    * integers — both engines compute the identical doubles, so the
    * rank-selected medians (ties broken on the index pair) replay
    * cell-exactly; no averaging interpolation exists to diverge (the
    * exactQuartiles type-1 rule).
    *
    * Scale contract: pairwise-by-definition, O(n²) on the
    * pre-aggregated series grain (the [[mannKendall]] caveat);
    * `idxCol` must be unique and integral. */
  def theilSen(df: DataFrame, idxCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val a = base.select(col("__i").as("ia"), col("__x").as("xa"))
      val b = base.select(col("__i").as("ib"), col("__x").as("xb"))
      val slopes = a.crossJoin(b).filter(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          (dbl(col("xb") - col("xa")) / dbl(col("ib") - col("ia")))
            .as("__s"))
      val ws = Window.orderBy(col("__s"), col("ia"), col("ib"))
      val nS = Window.partitionBy()
      val slope = slopes
        .withColumn("__r", row_number().over(ws))
        .withColumn("__n", count(lit(1)).over(nS))
        .filter(col("__r") === expr("(__n + 1) div 2"))
        .select(col("__n").as("n_slopes"), col("__s").as("slope"))
      val wi = Window.orderBy(col("__v"), col("__i"))
      base.crossJoin(broadcast(slope))
        .withColumn("__v", dbl(col("__x")) - col("slope") * dbl(col("__i")))
        .withColumn("__r", row_number().over(wi))
        .withColumn("__nn", count(lit(1)).over(nS))
        .filter(col("__r") === expr("(__nn + 1) div 2"))
        .select(col("__nn").as("n"), col("n_slopes"), col("slope"),
          col("__v").as("intercept"))
    }
  }

  /** Exact autocorrelation function at lags 1..`maxLag` over a
    * row-positional integral series (the caller pre-aggregates to the
    * series grain — e.g. per-day sums — so the input is
    * calendar-bounded; the global order window is over that tiny
    * series, never raw rows). Positional semantics: lag l pairs the
    * t-th observation with the (t−l)-th in `idxCol` order — gaps in
    * the index are NOT filled (same as any engine's lag()).
    *
    * Full-series-mean estimator, fully exact: with S=Σx, Q=Σx²,
    * XX_l=Σx_t·x_{t−l}, H_l/T_l the overlap sums of each side,
    * r_l = (N²·XX_l − N·S·(H_l+T_l) + (N−l)·S²) / (N·(N·Q − S²)) —
    * every term a DECIMAL(38,0) product (>2^53 rides the VARCHAR
    * oracle cast), ONE division per lag. */
  /** McNemar's test for paired binary outcomes: each row is one
    * subject with two 0/1 conditions; the statistic uses only the
    * discordant counts b = #(1,0) and c = #(0,1),
    * χ² = (b−c)²/(b+c), plus the Edwards continuity-corrected
    * (|b−c|−1)²/(b+c). All counts exact BIGINTs, one final division
    * each; b+c = 0 yields NULL (no discordance, test undefined).
    *
    * Scale: a single 1-row global agg — entirely map-side partial
    * sums, no shuffle beyond the final reduce. */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    df.select(col(aCol).cast("long").as("__a"),
        col(bCol).cast("long").as("__b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__a") === 1 && col("__b") === 0, 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("__a") === 0 && col("__b") === 1, 1L)
          .otherwise(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          dbl((col("b") - col("c")) * (col("b") - col("c"))) /
            dbl(col("b") + col("c"))).as("chi2"),
        when(col("b") + col("c") > 0,
          dbl((abs(col("b") - col("c")) - 1) *
            (abs(col("b") - col("c")) - 1)) /
            dbl(col("b") + col("c"))).as("chi2_cc"))
  }

  /** Wilcoxon signed-rank test for paired integral samples: zero
    * differences are dropped (Wilcoxon's rule), |d| is midranked from
    * the value CENSUS (rank windows over distinct |d| only — the
    * kruskalWallis trick), and the positive rank-sum is carried as the
    * exact integer 2·W⁺ = Σ n_pos(v)·(2·cum(v)+t(v)+1). W⁺/W⁻ are
    * halves of integers, exact in double. The normal-approximation z
    * (tie-corrected, no continuity correction) is ONE fixed chain:
    * (4·W⁺ − n(n+1)) / (2·√(n(n+1)(2n+1)/6 − Σ(t³−t)/12)) computed
    * over exact integer moments, a single sqrt + division (sqrt is
    * correctly rounded, so cross-engine deterministic).
    *
    * Scale: one groupBy on |d| values + a window over the distinct-
    * value census (series-grain, not row-grain) + 1-row agg. */
  def wilcoxonSignedRank(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val diffs = df.select(
        (col(xCol).cast("long") - col(yCol).cast("long")).as("__d"))
      .filter(col("__d") =!= 0)
    val census = diffs
      .groupBy(abs(col("__d")).as("__v"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__tp"))
      .withColumn("__cum",
        coalesce(sum(col("__t")).over(Window.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    census.agg(
        sum(col("__t")).as("n"),
        sum(col("__tp").cast(d38) *
          (lit(2) * col("__cum") + col("__t") + 1)).as("__w2p"),
        sum(col("__t").cast(d38) * col("__t") * col("__t") - col("__t"))
          .as("__tie"))
      .select(col("n"),
        (dbl(col("__w2p")) / lit(2.0d)).as("w_plus"),
        (dbl(col("n").cast(d38) * (col("n") + 1) - col("__w2p")) /
          lit(2.0d)).as("w_minus"),
        (dbl(lit(2).cast(d38) * col("__w2p") -
          col("n").cast(d38) * (col("n") + 1)) /
          (lit(2.0d) * sqrt(dbl(
            col("n").cast(d38) * (col("n") + 1) *
              (col("n") * 2 + 1) * 2 - col("__tie")) / lit(12.0d))))
          .as("z"))
  }

  /** Friedman test over complete blocks: each row is (block,
    * treatment, integral value); values are midranked WITHIN each
    * block from the per-block value census (2·rank integers, exact),
    * treatment rank-sums 2·Rⱼ are DECIMAL(38,0), and the statistic
    * χ²_F = 12·ΣRⱼ²/(b·k·(k+1)) − 3·b·(k+1) folds the per-treatment
    * squares in treatment order (the q237 sorted-fold recipe). The
    * tie-adjusted variant divides by 1 − Σ(t³−t)/(b·(k³−k)). Blocks
    * must be complete (every treatment present once); a block-shape
    * census guards the statistic — incomplete input yields NULL
    * chi2_f, which any gate or consumer trips over loudly.
    *
    * Scale: one groupBy on (block, value) + a block-partitioned window
    * over that census + two more bounded aggs; skew follows block
    * size k, which is the treatment count (tiny). */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(blockCol).cast("string").as("__blk"),
      col(treatCol).cast("string").as("__trt"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val shape = base.groupBy("__blk")
        .agg(count(lit(1)).as("__kb"),
          count_distinct(col("__trt")).as("__kd"))
        .agg(count(lit(1)).as("__b"), min(col("__kb")).as("__kmin"),
          max(col("__kb")).as("__kmax"), min(col("__kd")).as("__dmin"))
      val census = base.groupBy(col("__blk"), col("__x"))
        .agg(count(lit(1)).as("__t"))
        .withColumn("__cum",
          coalesce(sum(col("__t")).over(Window.partitionBy(col("__blk"))
            .orderBy(col("__x"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val ranked = base.join(census, Seq("__blk", "__x"))
        .withColumn("__r2", lit(2) * col("__cum") + col("__t") + 1)
      val perTreat = ranked.groupBy("__trt")
        .agg(sum(col("__r2").cast(d38)).as("__r2sum"))
      val ties = census.agg(
        sum(col("__t").cast(d38) * col("__t") * col("__t") - col("__t"))
          .as("__tie"))
      perTreat.agg(
          count(lit(1)).as("k"),
          aggregate(
            sort_array(collect_list(struct(col("__trt"),
              (dbl(col("__r2sum") * col("__r2sum")) / lit(4.0d))
                .as("__sq")))),
            lit(0.0d), (acc, s) => acc + s.getField("__sq")).as("__sumsq"))
        .crossJoin(broadcast(shape))
        .crossJoin(broadcast(ties))
        .select(col("__b").as("b"), col("k"),
          col("__tie").cast("long").as("tie_sum"),
          when(col("__kmin") === col("__kmax") &&
              col("__kmin") === col("k") && col("__dmin") === col("k"),
            lit(12.0d) * col("__sumsq") /
              dbl(col("__b").cast(d38) * col("k") * (col("k") + 1)) -
              lit(3.0d) * dbl(col("__b").cast(d38) * (col("k") + 1)))
            .as("chi2_f"))
        .withColumn("chi2_f_adj",
          col("chi2_f") / (lit(1.0d) - dbl(col("tie_sum")) /
            dbl(col("b").cast(d38) *
              (col("k").cast(d38) * col("k") * col("k") - col("k")))))
        .select(col("b"), col("k"), col("tie_sum"), col("chi2_f"),
          col("chi2_f_adj"))
    }
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013): the
    * experimentation-platform staple — adjust the post-period metric y
    * by the pre-period covariate x, ỹ = y − θ·(x − x̄) with
    * θ = cov(x,y)/var(x) pooled over all units, then compare group
    * means of ỹ. Moments (Σx, Σy, Σxy, Σxx per group and pooled) are
    * exact DECIMAL(38,0); θ is ONE division of exact cross-multiplied
    * integers (n·Σxy − Σx·Σy over n·Σxx − (Σx)²), and the adjusted
    * diff is the FIXED chain (ȳ_A − ȳ_B) − θ·(x̄_A − x̄_B) — every
    * operand itself one exact-integer division, so any engine replays
    * it bit-for-bit. Exactly two groups (≠2 yields NULL θ/diffs, the
    * [[friedman]] guard convention); zero pooled x-variance yields
    * NULL θ/diff_adj.
    *
    * Shape at 100 TB: one map-side-combined groupBy to 2 rows + a
    * 1-row pooled agg — nothing else. */
  def cuped(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(groupCol).cast("string").as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val per = base.groupBy("__g")
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col("__x").cast(d38)).as("__sx"),
        sum(col("__y").cast(d38)).as("__sy"))
    val pooled = base.agg(count(lit(1)).cast(d38).as("__np"),
      sum(col("__x").cast(d38)).as("__sxp"),
      sum(col("__y").cast(d38)).as("__syp"),
      sum(col("__x").cast(d38) * col("__y")).as("__sxy"),
      sum(col("__x").cast(d38) * col("__x")).as("__sxx"))
    val two = per.agg(count(lit(1)).as("__k"),
      min(col("__g")).as("__ga"), max(col("__g")).as("__gb"),
      min_by(struct(col("__n"), col("__sx"), col("__sy")), col("__g"))
        .as("__a"),
      max_by(struct(col("__n"), col("__sx"), col("__sy")), col("__g"))
        .as("__b"))
    val j = two.crossJoin(broadcast(pooled))
    val varx = col("__np") * col("__sxx") - col("__sxp") * col("__sxp")
    val theta = when(col("__k") === 2 && varx =!= 0,
      dbl(col("__np") * col("__sxy") - col("__sxp") * col("__syp")) /
        dbl(varx))
    def mean(s: Column, n: Column): Column = dbl(s) / dbl(n)
    j.select(
      col("__ga").as("group_a"), col("__gb").as("group_b"),
      col("__a.__n").cast("long").as("n_a"),
      col("__b.__n").cast("long").as("n_b"),
      theta.as("theta"),
      when(col("__k") === 2,
        mean(col("__a.__sy"), col("__a.__n")) -
          mean(col("__b.__sy"), col("__b.__n"))).as("diff_raw"),
      (when(col("__k") === 2,
        mean(col("__a.__sy"), col("__a.__n")) -
          mean(col("__b.__sy"), col("__b.__n"))) -
        theta * (mean(col("__a.__sx"), col("__a.__n")) -
          mean(col("__b.__sx"), col("__b.__n")))).as("diff_adj"))
  }

  /** Hodges–Lehmann location estimate: the median of all Walsh
    * averages (xᵢ+xⱼ)/2, i ≤ j — the rank-based robust center tied to
    * the Wilcoxon signed-rank test. Pair sums are exact integers,
    * selection is the type-1 lower median over (sum, i, j) — no
    * interpolation — and the estimate is ONE division by 2.0.
    *
    * Scale contract: pairwise-by-definition, O(n²) on the
    * pre-aggregated series grain (the [[theilSen]] caveat); `idxCol`
    * must be unique and integral. */
  def hodgesLehmann(df: DataFrame, idxCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val a = base.select(col("__i").as("ia"), col("__x").as("xa"))
      val b = base.select(col("__i").as("ib"), col("__x").as("xb"))
      val pairs = a.crossJoin(b).filter(col("ia") <= col("ib"))
        .select(col("ia"), col("ib"),
          (col("xa") + col("xb")).as("__s2"))
      val ws = Window.orderBy(col("__s2"), col("ia"), col("ib"))
      val nS = Window.partitionBy()
      pairs
        .withColumn("__r", row_number().over(ws))
        .withColumn("__np", count(lit(1)).over(nS))
        .filter(col("__r") === expr("(__np + 1) div 2"))
        .select(col("__np").as("n_pairs"),
          (dbl(col("__s2")) / lit(2.0d)).as("hl"))
    }
  }

  /** Page's trend test for an ORDERED treatment hypothesis over
    * complete blocks: L = Σⱼ ordⱼ·Rⱼ over the [[friedman]] midranks,
    * carried as the exact integer 2L = Σ ordⱼ·(2Rⱼ); the normal
    * approximation uses the NO-TIE null moments μ = b·k·(k+1)²/4 and
    * σ² = b·k²·(k+1)²·(k−1)/144 (the classic tables' convention —
    * documented, since midranks under ties shrink the true variance),
    * one exact chain: z = (2·2L − b·k·(k+1)²) / √(b·k²·(k+1)²·(k−1)/9).
    * `treatOrder` maps treatments to ranks 1..k; a treatment absent
    * from it yields NULL z (the [[friedman]] guard convention), as
    * does an incomplete block census.
    *
    * Shape at 100 TB: identical to [[friedman]] — block-value census,
    * block-partitioned window over that census, bounded aggs. */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String, treatOrder: Seq[String]): DataFrame = {
    require(treatOrder.nonEmpty && treatOrder.distinct == treatOrder,
      "treatOrder must be a non-empty list of distinct treatments")
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val ordMap = map(treatOrder.zipWithIndex.flatMap { case (t, i) =>
      Seq(lit(t), lit(i + 1L)) }: _*)
    val base = df.select(col(blockCol).cast("string").as("__blk"),
      col(treatCol).cast("string").as("__trt"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val shape = base.groupBy("__blk")
        .agg(count(lit(1)).as("__kb"),
          count_distinct(col("__trt")).as("__kd"))
        .agg(count(lit(1)).as("__b"), min(col("__kb")).as("__kmin"),
          max(col("__kb")).as("__kmax"), min(col("__kd")).as("__dmin"))
      val census = base.groupBy(col("__blk"), col("__x"))
        .agg(count(lit(1)).as("__t"))
        .withColumn("__cum",
          coalesce(sum(col("__t")).over(Window.partitionBy(col("__blk"))
            .orderBy(col("__x"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val ranked = base.join(census, Seq("__blk", "__x"))
        .withColumn("__ord", element_at(ordMap, col("__trt")))
        .withColumn("__r2", lit(2) * col("__cum") + col("__t") + 1)
      val perTreat = ranked.groupBy("__trt")
        .agg(max(when(col("__ord").isNull, 1L).otherwise(0L))
            .as("__unmapped"),
          sum(col("__r2").cast(d38) * col("__ord")).as("__l2j"))
      perTreat.agg(count(lit(1)).as("k"),
          max(col("__unmapped")).as("__anyUnmapped"),
          sum(col("__l2j")).as("__l2"))
        .crossJoin(broadcast(shape))
        .select(col("__b").as("b"), col("k"),
          (dbl(col("__l2")) / lit(2.0d)).as("l"),
          when(col("__anyUnmapped") === 0 &&
              col("__kmin") === col("__kmax") &&
              col("__kmin") === col("k") && col("__dmin") === col("k") &&
              col("k") > 1,
            dbl(lit(2).cast(d38) * col("__l2") -
              col("__b").cast(d38) * col("k") * (col("k") + 1) *
                (col("k") + 1)) /
              sqrt(dbl(col("__b").cast(d38) * col("k") * col("k") *
                (col("k") + 1) * (col("k") + 1) * (col("k") - 1)) /
                lit(9.0d))).as("z"))
    }
  }

  /** Randomization (approximate permutation) test for a difference in
    * group means, TWO groups, deterministic by construction: replicate
    * r reassigns each row to group A with probability n_A/n via the
    * md5-slice convention — num = first-6-hex of md5(seed∥':'∥r) is
    * uniform on [0, 2²⁴), and the row lands in A iff num·n < 2²⁴·n_A
    * (exact integer compare, Bernoulli(n_A/n); a Bernoulli shuffle,
    * not an exact permutation — documented, standard at scale).
    * Extremeness is decided EXACTLY: |Δ_r| ≥ |Δ_obs| cross-multiplied
    * to |s_A·n_B − s_B·n_A|·(n_A^r·n_B^r) vs the replicate mirror —
    * all DECIMAL(38,0), no float enters the p-value. p uses the
    * add-one rule (n_extreme+1)/(B+1), one division; obs_diff is the
    * fixed two-division chain. Degenerate replicates (either side
    * empty) count as extreme (conservative).
    *
    * Shape at 100 TB: rows explode ×B (B ≲ hundreds) into one
    * map-side-combined groupBy on the replicate id — linear, no
    * shuffle wider than B rows after the partial agg. */
  def randomizationTest(df: DataFrame, groupCol: String,
      valueCol: String, seedCol: String, replicates: Int): DataFrame = {
    require(replicates >= 1, "need at least one replicate")
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(groupCol).cast("string").as("__g"),
      col(valueCol).cast("long").as("__v"),
      col(seedCol).cast("string").as("__seed"))
    Exec.withPersisted(base) {
      val groups = base.groupBy("__g")
        .agg(count(lit(1)).as("__n"), sum(col("__v").cast(d38)).as("__s"))
        .orderBy("__g").collect()
      require(groups.length == 2,
        s"randomizationTest needs exactly 2 groups, got ${groups.length}")
      val na = groups(0).getLong(1); val sa = groups(0).getDecimal(2)
      val nb = groups(1).getLong(1); val sb = groups(1).getDecimal(2)
      val n = na + nb
      // |Δ_obs| cross-multiplied: |s_A·n_B − s_B·n_A| over n_A·n_B
      val obsNum = (BigDecimal(sa) * nb - BigDecimal(sb) * na).abs
      val obsDen = BigDecimal(na) * nb
      val rep = base.select(col("__v"), col("__seed"),
          explode(sequence(lit(0), lit(replicates - 1))).as("__r"))
        .withColumn("__num", conv(substring(
          md5(concat_ws(":", col("__seed"), col("__r"))), 1, 6), 16, 10)
          .cast("long"))
        .withColumn("__inA", col("__num") * n < lit(16777216L) * na)
      val perRep = rep.groupBy("__r")
        .agg(sum(when(col("__inA"), 1L).otherwise(0L)).as("__nar"),
          sum(when(!col("__inA"), 1L).otherwise(0L)).as("__nbr"),
          sum(when(col("__inA"), col("__v")).otherwise(0L).cast(d38))
            .as("__sar"),
          sum(when(!col("__inA"), col("__v")).otherwise(0L).cast(d38))
            .as("__sbr"))
      val extreme = perRep.select(
        when(col("__nar") === 0 || col("__nbr") === 0, lit(true))
          .otherwise(
            abs(col("__sar") * col("__nbr") - col("__sbr") * col("__nar"))
              * lit(obsDen.bigDecimal).cast(d38) >=
            lit(obsNum.bigDecimal).cast(DecimalType(38, 0)) *
              (col("__nar").cast(d38) * col("__nbr"))).as("__ext"))
        .agg(sum(when(col("__ext"), 1L).otherwise(0L)).as("n_extreme"))
      extreme.select(
        lit(replicates).cast("long").as("b"),
        lit(na).as("n_a"), lit(nb).as("n_b"),
        (dbl(lit(sa)) / dbl(lit(na)) - dbl(lit(sb)) / dbl(lit(nb)))
          .as("obs_diff"),
        col("n_extreme"),
        (dbl(col("n_extreme") + 1) / dbl(lit(replicates.toLong + 1)))
          .as("p"))
    }
  }

  /** Jonckheere–Terpstra trend test for an ORDERED alternative across
    * k independent groups: 2·JT* = Σ_{i<j in order} (2·#(a<b) + #(a=b))
    * summed over value-census pairs — all exact integers (the
    * Mann-Whitney census trick per ordered group pair). The normal
    * approximation uses the NO-TIE null moments μ = (N²−Σnᵢ²)/4 and
    * σ² = (N²(2N+3) − Σnᵢ²(2nᵢ+3))/72 (documented, the common library
    * convention): z = (2·JT2 − (N²−Σnᵢ²)) / √(2·V72/9) with
    * JT2 = 2·JT* and V72 = 72σ², every operand exact. Groups absent
    * from `groupOrder` yield NULL z.
    *
    * Scale contract: per-group value censuses (series-grain); the
    * pair join is O(k²·V²) on the census, never on raw rows. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
      valueCol: String, groupOrder: Seq[String]): DataFrame = {
    require(groupOrder.nonEmpty && groupOrder.distinct == groupOrder,
      "groupOrder must be a non-empty list of distinct groups")
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val ordMap = map(groupOrder.zipWithIndex.flatMap { case (g, i) =>
      Seq(lit(g), lit(i + 1L)) }: _*)
    val census = df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__t"))
      .withColumn("__ord", element_at(ordMap, col("__g")))
    Exec.withPersisted(census) {
      val sizes = census.groupBy("__g")
        .agg(sum(col("__t")).as("__ni"),
          max(when(col("__ord").isNull, 1L).otherwise(0L))
            .as("__unmapped"))
        .agg(sum(col("__ni").cast(d38)).as("__nn"),
          sum(col("__ni").cast(d38) * col("__ni")).as("__sn2"),
          sum(col("__ni").cast(d38) * col("__ni") *
            (lit(2).cast(d38) * col("__ni") + 3)).as("__sv"),
          max(col("__unmapped")).as("__anyUnmapped"))
      val jt2 = census.as("a").join(census.as("b"),
          col("a.__ord") < col("b.__ord"))
        .agg(coalesce(sum(
          when(col("a.__v") < col("b.__v"),
            lit(2).cast(d38) * col("a.__t") * col("b.__t"))
          .when(col("a.__v") === col("b.__v"),
            col("a.__t").cast(d38) * col("b.__t"))
          .otherwise(lit(0).cast(d38))), lit(0).cast(d38)).as("__jt2"))
      jt2.crossJoin(broadcast(sizes))
        .select(col("__nn").cast("long").as("n"),
          (dbl(col("__jt2")) / lit(2.0d)).as("jt"),
          when(col("__anyUnmapped") === 0 && col("__nn") > 1,
            dbl(lit(2).cast(d38) * col("__jt2") -
              (col("__nn") * col("__nn") - col("__sn2"))) /
              sqrt(dbl(lit(2).cast(d38) *
                (col("__nn") * col("__nn") *
                  (lit(2).cast(d38) * col("__nn") + 3) - col("__sv"))) /
                lit(9.0d))).as("z"))
    }
  }

  /** Cliff's delta — the nonparametric effect size for two groups:
    * δ = (#(a>b) − #(a<b)) / (n_A·n_B), counted exactly over the two
    * value censuses (O(V²) census join, never raw-row pairs), ONE
    * final division. Group A/B are picked by name; missing groups
    * yield an empty frame (loud downstream). */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val census = df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("__g").isin(groupA, groupB))
      .groupBy("__g", "__v").agg(count(lit(1)).as("__t"))
    Exec.withPersisted(census) {
      val a = census.filter(col("__g") === groupA)
        .select(col("__v").as("__va"), col("__t").as("__ta"))
      val b = census.filter(col("__g") === groupB)
        .select(col("__v").as("__vb"), col("__t").as("__tb"))
      a.crossJoin(b)
        .agg(sum(col("__ta").cast(d38)  * when(col("__va") > col("__vb"),
            col("__tb")).otherwise(0L)).as("__gt"),
          sum(col("__ta").cast(d38) * when(col("__va") < col("__vb"),
            col("__tb")).otherwise(0L)).as("__lt"),
          sum(col("__ta").cast(d38) * col("__tb")).as("__nab"))
        .select(col("__gt").cast("long").as("gt"),
          col("__lt").cast("long").as("lt"),
          col("__nab").cast("long").as("n_pairs"),
          (dbl(col("__gt") - col("__lt")) / dbl(col("__nab")))
            .as("delta"))
    }
  }

  /** Cohen's d (pooled-SD standardized mean difference) with Hedges'
    * g correction: sp² = (n_B(n_AΣa²−Sa²) + n_A(n_BΣb²−Sb²)) /
    * (n_A·n_B·(n_A+n_B−2)) — ONE division of exact integers —
    * d = ((Sa·n_B − Sb·n_A)/(n_A·n_B)) / √sp²,
    * g = d·(1 − 3/(4N−9)). Every operand exact, the chain fixed.
    * NULL when either group has <2 rows or sp² = 0. */
  def cohensD(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val per = df.select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("__g").isin(groupA, groupB))
      .groupBy("__g")
      .agg(count(lit(1)).cast(d38).as("__n"),
        sum(col("__v").cast(d38)).as("__s"),
        sum(col("__v").cast(d38) * col("__v")).as("__q"))
    val a = per.filter(col("__g") === groupA)
      .select(col("__n").as("__na"), col("__s").as("__sa"),
        col("__q").as("__qa"))
    val b = per.filter(col("__g") === groupB)
      .select(col("__n").as("__nb"), col("__s").as("__sb"),
        col("__q").as("__qb"))
    val j = a.crossJoin(b)
    val spNum = col("__nb") * (col("__na") * col("__qa") -
        col("__sa") * col("__sa")) +
      col("__na") * (col("__nb") * col("__qb") -
        col("__sb") * col("__sb"))
    val spDen = col("__na") * col("__nb") *
      (col("__na") + col("__nb") - 2)
    val sp2 = dbl(spNum) / dbl(spDen)
    val d = (dbl(col("__sa") * col("__nb") - col("__sb") * col("__na")) /
      dbl(col("__na") * col("__nb"))) / sqrt(sp2)
    j.select(col("__na").cast("long").as("n_a"),
      col("__nb").cast("long").as("n_b"),
      when(col("__na") > 1 && col("__nb") > 1 && spNum > 0, d).as("d"),
      when(col("__na") > 1 && col("__nb") > 1 && spNum > 0,
        d * (lit(1.0d) - lit(3.0d) /
          dbl(lit(4).cast(d38) * (col("__na") + col("__nb")) - 9)))
        .as("g"))
  }

  /** Wald–Wolfowitz runs test for randomness of a sequence around its
    * median: values equal to the (type-1 lower) median are dropped,
    * the rest classify above/below, and R counts maximal same-sign
    * runs in `idxCol` order. z uses the exact null moments
    * μ = 2n₁n₂/n + 1 and σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) — the chain is
    * (R − 2n₁n₂/n − 1) / √(exact/exact), one division inside the
    * sqrt, every integer DECIMAL-exact. NULL z when either side is
    * empty or n < 2.
    *
    * Scale contract: series-grain (callers pre-aggregate); the median
    * selection and the run scan are windows over that series. */
  def runsTest(df: DataFrame, idxCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__v"))
    Exec.withPersisted(base) {
      val med = base
        .withColumn("__r",
          row_number().over(Window.orderBy(col("__v"), col("__i"))))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy()))
        .filter(col("__r") === expr("(__n + 1) div 2"))
        .select(col("__v").as("__med"))
      val w = Window.orderBy(col("__i"))
      val signed = base.crossJoin(broadcast(med))
        .filter(col("__v") =!= col("__med"))
        .withColumn("__s", col("__v") > col("__med"))
        .withColumn("__chg",
          when(lag(col("__s"), 1).over(w).isNull ||
            col("__s") =!= lag(col("__s"), 1).over(w), 1L).otherwise(0L))
      val agg = signed.agg(
        sum(when(col("__s"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("__s"), 1L).otherwise(0L)).as("n2"),
        sum(col("__chg")).as("r"))
      agg.select(col("n1"), col("n2"), col("r"),
        when(col("n1") > 0 && col("n2") > 0 && col("n1") + col("n2") > 1, {
          val n = (col("n1") + col("n2")).cast(d38)
          val p2 = lit(2).cast(d38) * col("n1") * col("n2")
          (dbl(col("r")) - dbl(p2) / dbl(n) - lit(1.0d)) /
            sqrt(dbl(p2 * (p2 - n)) / dbl(n * n * (n - 1)))
        }).as("z"))
    }
  }

  /** Durbin–Watson statistic for first-order autocorrelation of OLS
    * residuals over an integral series: with Sxy = nΣiy − ΣiΣy and
    * Sxx = nΣi² − (Σi)², the residual scaled by n·Sxx is the exact
    * integer Ẽ_t = Sxx·(n·y_t − Σy) − Sxy·(n·i_t − Σi), the scale
    * cancels in DW = Σ(ΔẼ)²/ΣẼ², and both sums are DECIMAL(38,0) —
    * ONE division (>2^53 rides the VARCHAR-mediated oracle cast).
    * NULL when the series is degenerate (zero x-spread or all
    * residuals zero).
    *
    * Scale contract: series-grain; one moment agg + one lag window
    * over the series. */
  def durbinWatson(df: DataFrame, idxCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__y"))
    Exec.withPersisted(base) {
      val m = base.agg(count(lit(1)).cast(d38).as("__n"),
        sum(col("__i").cast(d38)).as("__si"),
        sum(col("__y").cast(d38)).as("__sy"),
        sum(col("__i").cast(d38) * col("__i")).as("__sii"),
        sum(col("__i").cast(d38) * col("__y")).as("__siy"))
      val w = Window.orderBy(col("__i"))
      val resid = base.crossJoin(broadcast(m))
        .withColumn("__sxy",
          col("__n") * col("__siy") - col("__si") * col("__sy"))
        .withColumn("__sxx",
          col("__n") * col("__sii") - col("__si") * col("__si"))
        .withColumn("__e",
          col("__sxx") * (col("__n") * col("__y") - col("__sy")) -
            col("__sxy") * (col("__n") * col("__i") - col("__si")))
        .withColumn("__de", col("__e") - lag(col("__e"), 1).over(w))
      resid.agg(count(lit(1)).as("n"),
          sum(col("__e") * col("__e")).as("__ss"),
          sum(col("__de") * col("__de")).as("__sd"))
        .select(col("n"),
          when(col("__ss") > 0, dbl(col("__sd")) / dbl(col("__ss")))
            .as("dw"))
    }
  }

  /** Siegel repeated-medians slope — the higher-breakdown cousin of
    * [[theilSen]]: per point i, mᵢ = lower median over j≠i of the
    * pairwise slope (yⱼ−yᵢ)/(iⱼ−iᵢ); the slope is the lower median of
    * the mᵢ and the intercept the lower median of yᵢ − slope·iᵢ. Each
    * slope is ONE division of exact integers, every median a type-1
    * rank selection with index tie-breaks — no interpolation anywhere.
    *
    * Scale contract: pairwise O(n²) on the series grain (the
    * [[theilSen]] caveat); `idxCol` unique and integral. */
  def siegelSlopes(df: DataFrame, idxCol: String,
      valueCol: String): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val a = base.select(col("__i").as("ia"), col("__x").as("xa"))
      val b = base.select(col("__i").as("ib"), col("__x").as("xb"))
      val slopes = a.crossJoin(b).filter(col("ia") =!= col("ib"))
        .select(col("ia"), col("ib"),
          (dbl(col("xb") - col("xa")) / dbl(col("ib") - col("ia")))
            .as("__s"))
      val wi = Window.partitionBy(col("ia"))
        .orderBy(col("__s"), col("ib"))
      val perPoint = slopes
        .withColumn("__r", row_number().over(wi))
        .withColumn("__c", count(lit(1))
          .over(Window.partitionBy(col("ia"))))
        .filter(col("__r") === expr("(__c + 1) div 2"))
        .select(col("ia"), col("__s").as("__m"))
      val wg = Window.orderBy(col("__m"), col("ia"))
      val nS = Window.partitionBy()
      val slope = perPoint
        .withColumn("__r", row_number().over(wg))
        .withColumn("__n", count(lit(1)).over(nS))
        .filter(col("__r") === expr("(__n + 1) div 2"))
        .select(col("__n").as("n"), col("__m").as("slope"))
      val wv = Window.orderBy(col("__v"), col("__i"))
      base.crossJoin(broadcast(slope))
        .withColumn("__v", dbl(col("__x")) - col("slope") * dbl(col("__i")))
        .withColumn("__r", row_number().over(wv))
        .withColumn("__nn", count(lit(1)).over(nS))
        .filter(col("__r") === expr("(__nn + 1) div 2"))
        .select(col("n"), col("slope"), col("__v").as("intercept"))
    }
  }

  /** Cochran's Q test — the k-treatment extension of [[mcnemar]]:
    * binary outcomes over complete blocks,
    * Q = (k−1)·(k·ΣCⱼ² − N²) / (k·N − ΣRᵢ²) with Cⱼ the treatment
    * totals, Rᵢ the block totals, N the grand total — every moment an
    * exact DECIMAL(38,0) integer, ONE final division. The same
    * block-shape census as [[friedman]] guards completeness
    * (incomplete input yields NULL q). A degenerate denominator (all
    * blocks constant) also yields NULL.
    *
    * Shape at 100 TB: two groupBys (block totals, treatment totals) —
    * both map-side combined; every fold is integer-exact (associative),
    * so no sorted-fold discipline is needed anywhere. */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(blockCol).cast("string").as("__blk"),
      col(treatCol).cast("string").as("__trt"),
      col(valueCol).cast("long").as("__y"))
    Exec.withPersisted(base) {
      val rows = base.groupBy("__blk")
        .agg(count(lit(1)).as("__kb"),
          count_distinct(col("__trt")).as("__kd"),
          sum(col("__y")).as("__ri"))
      val blockSide = rows.agg(count(lit(1)).as("__b"),
        min(col("__kb")).as("__kmin"), max(col("__kb")).as("__kmax"),
        min(col("__kd")).as("__dmin"),
        sum(col("__ri").cast(d38)).as("__n"),
        sum(col("__ri").cast(d38) * col("__ri")).as("__r2"))
      val treatSide = base.groupBy("__trt")
        .agg(sum(col("__y").cast(d38)).as("__cj"))
        .agg(count(lit(1)).as("k"),
          sum(col("__cj") * col("__cj")).as("__c2"))
      treatSide.crossJoin(broadcast(blockSide))
        .select(col("__b").as("b"), col("k"),
          col("__n").cast("long").as("n"),
          when(col("__kmin") === col("__kmax") &&
              col("__kmin") === col("k") && col("__dmin") === col("k") &&
              col("k") * col("__n") - col("__r2") > 0,
            dbl((col("k") - 1) *
              (col("k") * col("__c2") - col("__n") * col("__n"))) /
              dbl(col("k") * col("__n") - col("__r2"))).as("q"))
    }
  }

  /** Cronbach's alpha (internal-consistency reliability) over
    * complete subject×item blocks: α = k/(k−1)·(1 − ΣVarᵢ/Var_T).
    * The n(n−1) sample-variance denominators cancel in the ratio, so
    * ΣVarᵢ/Var_T = Σ(n·Qᵢ−Sᵢ²) / (n·Q_T−S_T²) is ONE division of
    * exact DECIMAL(38,0) moments and α a fixed three-op chain.
    * Incomplete blocks or zero total variance yield NULL (the
    * [[friedman]] guard convention).
    *
    * Shape at 100 TB: one groupBy per grain (item moments, subject
    * totals), all map-side combined. */
  def cronbachAlpha(df: DataFrame, blockCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(blockCol).cast("string").as("__blk"),
      col(itemCol).cast("string").as("__it"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val nItems = base.agg(count_distinct(col("__it")).as("__k"))
      val subjAgg = base.groupBy("__blk")
        .agg(count(lit(1)).as("__kb"),
          count_distinct(col("__it")).as("__kd"),
          sum(col("__x").cast(d38)).as("__t"))
        .agg(count(lit(1)).cast(d38).as("__n"),
          min(col("__kb")).as("__kmin"), max(col("__kb")).as("__kmax"),
          min(col("__kd")).as("__dmin"),
          sum(col("__t")).as("__st"),
          sum(col("__t") * col("__t")).as("__qt"))
      val items = base.groupBy("__it")
        .agg(sum(col("__x").cast(d38)).as("__si"),
          sum(col("__x").cast(d38) * col("__x")).as("__qi"))
      items.crossJoin(broadcast(subjAgg)).crossJoin(broadcast(nItems))
        .agg(max(col("__n")).as("__nn"), max(col("__k")).as("__kk"),
          max(col("__kmin")).as("__km"), max(col("__kmax")).as("__kx"),
          max(col("__dmin")).as("__dm"),
          max(col("__st")).as("__s"), max(col("__qt")).as("__q"),
          sum(col("__n") * col("__qi") - col("__si") * col("__si"))
            .as("__num"))
        .select(col("__nn").cast("long").as("n"), col("__kk").as("k"),
          when(col("__km") === col("__kx") && col("__km") === col("__kk") &&
              col("__dm") === col("__kk") && col("__kk") > 1 &&
              col("__nn") * col("__q") - col("__s") * col("__s") =!= 0,
            dbl(col("__kk")) / dbl(col("__kk") - 1) *
              (lit(1.0d) - dbl(col("__num")) /
                dbl(col("__nn") * col("__q") - col("__s") * col("__s"))))
            .as("alpha"))
    }
  }

  /** One-way random intraclass correlation ICC(1,1): with n subjects
    * × k measurements, MSB = SSB/(n−1), MSW = SSW/(n(k−1)),
    * ICC = (MSB−MSW)/(MSB+(k−1)·MSW). Every sum of squares is a fixed
    * chain over three exact DECIMAL(38,0) moments (ΣT², Σx², G) with
    * only same-denominator divisions (all subjects share k), so the
    * whole statistic replays bit-for-bit. NULL on incomplete blocks,
    * n < 2, k < 2, or a degenerate denominator. */
  def icc1(df: DataFrame, blockCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def dbl(c: Column): Column = c.cast("double")
    val base = df.select(col(blockCol).cast("string").as("__blk"),
      col(itemCol).cast("string").as("__it"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val nItems = base.agg(count_distinct(col("__it")).as("__k"))
      val subjAgg = base.groupBy("__blk")
        .agg(count(lit(1)).as("__kb"),
          count_distinct(col("__it")).as("__kd"),
          sum(col("__x").cast(d38)).as("__t"))
        .agg(count(lit(1)).cast(d38).as("__n"),
          min(col("__kb")).as("__kmin"), max(col("__kb")).as("__kmax"),
          min(col("__kd")).as("__dmin"),
          sum(col("__t")).as("__g"),
          sum(col("__t") * col("__t")).as("__qt"))
      val tot = base.agg(sum(col("__x").cast(d38) * col("__x")).as("__qx"))
      subjAgg.crossJoin(broadcast(tot)).crossJoin(broadcast(nItems))
        .select(col("__n").cast("long").as("n"), col("__k").as("k"), {
          val kD = dbl(col("__k"))
          val ssb = dbl(col("__qt")) / kD -
            dbl(col("__g") * col("__g")) / (dbl(col("__n")) * kD)
          val ssw = dbl(col("__qx")) - dbl(col("__qt")) / kD
          val msb = ssb / dbl(col("__n") - 1)
          val msw = ssw / (dbl(col("__n")) * dbl(col("__k") - 1))
          when(col("__kmin") === col("__kmax") &&
              col("__kmin") === col("__k") &&
              col("__dmin") === col("__k") &&
              col("__n") > 1 && col("__k") > 1,
            (msb - msw) / (msb + dbl(col("__k") - 1) * msw)).as("icc")
        })
    }
  }

  /** Pettitt changepoint test: U_t = Σ_{i≤t<j} sgn(xᵢ−xⱼ), the
    * Mann-Whitney-family statistic whose |U| max locates a single
    * change point. Each ordered pair contributes its sign to every t
    * in [i, j−1] — computed as a DIFFERENCE array (+s at i, −s at j,
    * prefix-summed), so the pair grain is touched once, never per-t.
    * K = max|U_t| with the earliest index breaking ties; all
    * integers, no approximation emitted (the exp-based p-value is a
    * transcendental — callers apply it to the exact K).
    *
    * Scale contract: pairwise O(n²) on the series grain (the
    * [[theilSen]] caveat). */
  def pettitt(df: DataFrame, idxCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__x"))
    Exec.withPersisted(base) {
      val a = base.select(col("__i").as("ti"), col("__x").as("xa"))
      val b = base.select(col("__i").as("tj"), col("__x").as("xb"))
      val pairs = a.crossJoin(b).filter(col("ti") < col("tj"))
        .select(col("ti"), col("tj"),
          when(col("xa") > col("xb"), 1L)
            .when(col("xa") < col("xb"), -1L).otherwise(0L).as("__s"))
      val deltas = pairs.select(col("ti").as("__i"), col("__s"))
        .unionByName(pairs.select(col("tj").as("__i"),
          (-col("__s")).as("__s")))
        .groupBy("__i").agg(sum(col("__s")).as("__d"))
      val nRow = base.agg(count(lit(1)).as("n"))
      val u = base.select(col("__i"))
        .join(deltas, Seq("__i"), "left")
        .withColumn("__u",
          sum(coalesce(col("__d"), lit(0L)))
            .over(Window.orderBy(col("__i"))
              .rowsBetween(Window.unboundedPreceding, 0)))
      u.orderBy(abs(col("__u")).desc, col("__i")).limit(1)
        .crossJoin(broadcast(nRow))
        .select(col("n"), abs(col("__u")).as("k_stat"),
          col("__i").as("t_star"), col("__u").as("u_at"))
    }
  }

  /** Ljung–Box portmanteau statistic over the first `maxLag`
    * autocorrelations: Q = n(n+2)·Σ_{k≤m} r_k²/(n−k), with each r_k
    * the bit-exact [[acf]] coefficient and the fold in lag order (the
    * q237 recipe) — the whole chain replays identically in any engine
    * because every rounding step is shared. */
  def ljungBox(df: DataFrame, idxCol: String, valueCol: String,
      maxLag: Int): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val nRow = df.agg(count(lit(1)).as("__n"))
    acf(df, idxCol, valueCol, maxLag)
      .crossJoin(broadcast(nRow))
      .agg(max(col("__n")).as("__nn"), count(lit(1)).as("m"),
        aggregate(
          sort_array(collect_list(struct(col("lag"),
            (col("acf") * col("acf") / dbl(col("__n") - col("lag")))
              .as("__t")))),
          lit(0.0d), (acc, s) => acc + s.getField("__t")).as("__sum"))
      .select(col("__nn").as("n"), col("m"),
        (dbl(col("__nn")) * dbl(col("__nn") + 2) * col("__sum"))
          .as("q_stat"))
  }

  /** Isotonic regression (nondecreasing least-squares fit) by
    * distributed pool-adjacent-violators. Phase 1 range-partitions on
    * `idxCol` (unique, integral — the [[theilSen]] contract) and runs
    * the classic linear PAV stack per partition (each partition
    * buffers in memory — the same contract as any per-partition sort);
    * the per-partition level sets are then weighted points, and global
    * PAV over them equals global PAV over rows. Phase 2 pools them
    * across partitions in ONE sequential O(#blocks) PAV pass: the
    * block summaries range-shuffle into a single sorted stream and a
    * `mapPartitions` stack replays exactly the phase-1 algorithm over
    * weighted points — the compare is cross-multiplied BigInt, never a
    * float — emitting (initial block → pooled mean) rows directly
    * (each stack entry carries the initial-block ids it pooled, merged
    * smaller-into-larger). PAV's fixpoint is unique, so pooling blocks
    * instead of rows gives the identical fit.
    *
    * Fitted values: yhat = Σy/n per block, ONE double division of
    * exact integers — and the PAV block mean equals the minimax value
    * max_{j≤i} min_{k≥i} mean(j..k), which is how the oracle
    * recomputes it (double min/max commute with correct rounding
    * because rounding is monotone).
    *
    * Shape at 100 TB: the row grain is touched by exactly one range
    * shuffle + one equi-join (initial-block id → pooled mean); phase 2
    * is a single task streaming the BLOCK table once (≤ #level-sets +
    * one per partition boundary rows) — the inherently sequential core
    * of single-series PAV, linear in blocks, with memory O(#blocks)
    * (replacing the round-per-convergence global-window loop that was
    * killed at 34 min on the 150M-point sf100 series; PLANS.md round
    * 10). Per-KEY isotonic should partition by key instead — this is
    * the single-series face. Σ|y| per block must fit DECIMAL(38,0). */
  def isotonicFit(df: DataFrame, idxCol: String, valueCol: String): DataFrame =
    isotonicFitImpl(df, idxCol, valueCol, persistTagged = false)

  /** [[isotonicFit]] with the tagged-row materialization strategy
    * exposed for measurement: the tagged table
    * (corpus-sized, phase-1 output) feeds TWO consumers — the block
    * aggregate and the final join. `persistTagged = true` persists it
    * (MEMORY_AND_DISK — the r11 watch-item: fits storage at one scale,
    * a silent disk materialization pass a decade later);
    * `false` recomputes, which in THIS plan costs almost nothing
    * beyond the persist path: the range Exchange below phase 1 is one
    * node, so Catalyst's ReusedExchange writes the shuffle ONCE and
    * only the in-partition sort + phase-1 PAV pass replays per
    * consumer — the span-mask recompute pattern (PLANS.md round 11).
    * Measured at the 150M-row sf100 series (warm min over two
    * uncontended sessions; PLANS.md round 12): recompute 27.7 s vs
    * persist 32.7 s — so recompute is the default: strictly less
    * storage pressure AND less time at the third decade. At sf10
    * (15M rows, everything resident) persist edges it 4.6 vs 5.2 s —
    * exactly the fits-at-one-scale trap the r11 verdict predicted. */
  private[graft] def isotonicFitImpl(df: DataFrame, idxCol: String,
      valueCol: String, persistTagged: Boolean): DataFrame = {
    val d38 = DecimalType(38, 0)
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__y"))
    // phase 1: per-partition PAV; emit each row tagged with its local
    // block id (the block's lowest index)
    val tagged = rows.repartitionByRange(col("__i"))
      .sortWithinPartitions("__i")
      .as[(Long, Long)]
      .mapPartitions { it =>
        // flat primitive row buffer + a stack of block START OFFSETS —
        // block membership is the contiguous range [starts(b),
        // starts(b+1)), so pooling is O(1) stack arithmetic with ZERO
        // per-block member structures. (The first cut kept a
        // List[(i,y)] per block and ++-concatenated on every pool —
        // measured 4x per-row decay across the sf10→sf100 decade from
        // allocation churn alone; this formulation is flat arrays +
        // one short-lived BigInt per row.)
        var is = new Array[Long](1 << 10)
        var ys = new Array[Long](1 << 10)
        var n = 0
        val starts = scala.collection.mutable.ArrayBuffer[Int]()
        val sums = scala.collection.mutable.ArrayBuffer[BigInt]()
        val cnts = scala.collection.mutable.ArrayBuffer[Long]()
        for ((i, y) <- it) {
          if (n == is.length) {
            is = java.util.Arrays.copyOf(is, n << 1)
            ys = java.util.Arrays.copyOf(ys, n << 1)
          }
          is(n) = i; ys(n) = y
          var lo = n; var s = BigInt(y); var c = 1L
          while (starts.nonEmpty &&
              sums.last * c > s * cnts.last) { // prev mean > cur mean
            lo = starts.remove(starts.length - 1)
            s += sums.remove(sums.length - 1)
            c += cnts.remove(cnts.length - 1)
          }
          starts += lo; sums += s; cnts += c
          n += 1
        }
        val nf = n; val isf = is; val ysf = ys
        starts.indices.iterator.flatMap { b =>
          val hi = if (b + 1 < starts.length) starts(b + 1) else nf
          val blk0 = isf(starts(b))
          (starts(b) until hi).iterator.map(idx => (isf(idx), ysf(idx), blk0))
        }
      }
      .toDF("__i", "__y", "__blk0")
    def body: DataFrame = {
      val blocks0 = tagged.groupBy(col("__blk0"))
        .agg(sum(col("__y").cast(d38)).as("s"), count(lit(1)).as("c"))
      // phase 2: one sequential PAV pass over the sorted block stream —
      // a single task, linear in #blocks, emitting one (initial block,
      // pooled mean) row per phase-1 block straight from the stack
      val mapping = blocks0
        .repartitionByRange(1, col("__blk0"))
        .sortWithinPartitions("__blk0")
        .as[(Long, java.math.BigDecimal, Long)]
        .mapPartitions { it =>
          val sums = scala.collection.mutable.ArrayBuffer[BigInt]()
          val cnts = scala.collection.mutable.ArrayBuffer[Long]()
          val mems = scala.collection.mutable
            .ArrayBuffer[scala.collection.mutable.ArrayBuffer[Long]]()
          for ((blk0, sDec, c0) <- it) {
            var s = BigInt(sDec.toBigInteger)
            var c = c0
            var mem = scala.collection.mutable.ArrayBuffer(blk0)
            while (sums.nonEmpty &&
                sums.last * c > s * cnts.last) { // prev mean > cur mean
              s += sums.remove(sums.length - 1)
              c += cnts.remove(cnts.length - 1)
              val pm = mems.remove(mems.length - 1)
              if (pm.length >= mem.length) { pm ++= mem; mem = pm }
              else mem ++= pm
            }
            sums += s; cnts += c; mems += mem
          }
          sums.indices.iterator.flatMap { b =>
            val yhat = sums(b).doubleValue / cnts(b).toDouble
            mems(b).iterator.map(blk0 => (blk0, yhat))
          }
        }
        .toDF("__blk0", "yhat")
      tagged.join(mapping, Seq("__blk0"))
        .select(col("__i").as("i"), col("__y").as("y"), col("yhat"))
    }
    if (persistTagged) Exec.withPersisted(tagged)(body) else body
  }

  /** Per-KEY isotonic regression — the production shape of
    * [[isotonicFit]] (a monotone calibration/trend fit per user,
    * per sensor, per score bucket): every key's series is pooled
    * independently, so the operator is embarrassingly parallel — ONE
    * shuffle on the key, then a sequential exact PAV per key with no
    * cross-key coordination and no global order anywhere in the plan.
    * Same arithmetic contract as the single-series face: integral
    * idx/value, BigInt cross-multiplied pool compares (never a float),
    * yhat = one double division of exact integers — so a fixed key's
    * rows equal [[isotonicFit]] on that key's series exactly
    * (StatsSpec pins the identity).
    *
    * Shape at 100 TB: hash-partitioned by key; each key's series is
    * buffered once in its task (the per-key memory contract every
    * sort-based per-key operator shares — a single key's series must
    * fit an executor, keys don't). The single-series face's phase
    * split is pointless here: per-key series are task-sized by the
    * data model, and the decade sweep's super-linear single-series
    * reading was precisely the absence of keys. */
  def isotonicFitByKey(df: DataFrame, keyCol: String, idxCol: String,
      valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // hash-shuffle on the key, sort (key, idx) WITHIN partitions, then
    // one streaming pass with per-key PAV at key boundaries. NOT a
    // groupBy(collect_list): at ~10M keys/64 partitions Spark's object
    // hash aggregate falls back to sort-based TypedImperativeAggregate —
    // per-group buffer (de)serialization on both map and reduce sides,
    // measured ~20x slower than this shuffle+sort plan at the sf100
    // decade (the whole-stage-codegen sort streams UnsafeRows; only the
    // final mapPartitions leaves codegen).
    df.select(col(keyCol).cast("long").as("__g"),
        col(idxCol).cast("long").as("__i"), col(valueCol).cast("long").as("__y"))
      .repartition(col("__g"))
      .sortWithinPartitions("__g", "__i")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // per-key exact PAV: stack of (Σy, n) + the key's buffered rows
        // (one key's series must fit its task — the per-key memory
        // contract every sort-based per-key operator shares)
        val rows = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        val los = scala.collection.mutable.ArrayBuffer[Int]()
        val sums = scala.collection.mutable.ArrayBuffer[BigInt]()
        val cnts = scala.collection.mutable.ArrayBuffer[Long]()
        var curKey = 0L
        var open = false
        def push(i: Long, y: Long): Unit = {
          var lo = rows.length; var s = BigInt(y); var c = 1L
          while (los.nonEmpty &&
              sums.last * c > s * cnts.last) { // prev mean > cur mean
            lo = los.remove(los.length - 1)
            s += sums.remove(sums.length - 1)
            c += cnts.remove(cnts.length - 1)
          }
          los += lo; sums += s; cnts += c
          rows += ((i, y))
        }
        def flush(): Iterator[(Long, Long, Long, Double)] = {
          val g = curKey
          val out = los.indices.map { b =>
            val hi = if (b + 1 < los.length) los(b + 1) else rows.length
            val yhat = sums(b).doubleValue / cnts(b).toDouble
            (los(b), hi, yhat)
          }.iterator.flatMap { case (lo, hi, yhat) =>
            (lo until hi).iterator.map { idx =>
              (g, rows(idx)._1, rows(idx)._2, yhat) }
          }.toArray // materialize BEFORE the buffers reset for the next key
          rows.clear(); los.clear(); sums.clear(); cnts.clear()
          out.iterator
        }
        new Iterator[Iterator[(Long, Long, Long, Double)]] {
          def hasNext: Boolean = open || it.hasNext
          def next(): Iterator[(Long, Long, Long, Double)] = {
            while (it.hasNext) {
              val (g, i, y) = it.next()
              if (!open) { curKey = g; open = true }
              else if (g != curKey) {
                val done = flush()
                curKey = g; push(i, y)
                return done
              }
              push(i, y)
            }
            open = false
            flush()
          }
        }.flatten
      }
      .toDF(keyCol, idxCol, valueCol, "yhat")
  }

  def acf(df: DataFrame, idxCol: String, valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val d38 = DecimalType(38, 0)
    val w = Window.orderBy(col(idxCol))
    val lagged = (1 to maxLag).foldLeft(
      df.select(col(idxCol), col(valueCol).cast(d38).as("__x"))) {
      (d, l) => d.withColumn(s"__x$l", lag(col("__x"), l).over(w))
    }
    val aggs =
      Seq(count(lit(1)).cast(d38).as("__n"), sum(col("__x")).as("__s"),
        sum(col("__x") * col("__x")).as("__q")) ++
      (1 to maxLag).flatMap { l =>
        Seq(sum(col("__x") * col(s"__x$l")).as(s"__xx$l"),
          sum(when(col(s"__x$l").isNotNull, col("__x"))).as(s"__t$l"),
          sum(col(s"__x$l")).as(s"__h$l"))
      }
    val one = lagged.agg(aggs.head, aggs.tail: _*)
    def dbl(c: Column): Column = c.cast("double")
    val rows = (1 to maxLag).map { l =>
      struct(lit(l).as("lag"),
        (dbl(col("__n") * col("__n") * col(s"__xx$l") -
          col("__n") * col("__s") * (col(s"__h$l") + col(s"__t$l")) +
          (col("__n") - l) * col("__s") * col("__s")) /
          dbl(col("__n") *
            (col("__n") * col("__q") - col("__s") * col("__s"))))
          .as("acf"))
    }
    one.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.lag").as("lag"), col("__r.acf").as("acf"))
  }
}

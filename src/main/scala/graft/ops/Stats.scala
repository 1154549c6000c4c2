package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Column-statistics operators: P10 standardize, F6/F7 column pruning,
  * G3 distinct counts, G8 time-bin downsampling, G17 ACF.
  */
object Stats {

  /** P10 — sklearn `StandardScaler` parity: fit per-column (mean, std) on
    * the TRAIN slice only (population std, ddof=0 — func_preproc.py:262-263),
    * apply `(x − mean) / std` everywhere. One aggregate row collected to
    * the driver (2·|cols| scalars), then pure projections — no MLlib, no
    * second shuffle. Columns with std == 0 pass through unscaled shifted
    * (sklearn maps them to 0 by dividing by 1.0). */
  def fitStandardScaler(train: DataFrame, cols: Seq[String]): Map[String, (Double, Double)] = {
    val aggs = standardScalerAggs(cols, lit(true))
    standardScalerFrom(train.agg(aggs.head, aggs.tail: _*).head(), cols)
  }

  /** [[fitStandardScaler]]'s moments as aggregate columns over the rows
    * where `train` holds, so a caller can fit the scaler inside an
    * aggregation it runs anyway; [[standardScalerFrom]] reads them back. */
  private[graft] def standardScalerAggs(cols: Seq[String], train: Column): Seq[Column] =
    cols.flatMap(c => Seq(
      avg(when(train, col(c))).as(s"${c}__mean"),
      stddev_pop(when(train, col(c))).as(s"${c}__std")))

  private[graft] def standardScalerFrom(row: Row, cols: Seq[String]): Map[String, (Double, Double)] =
    cols.map { c =>
      val m = Option(row.getAs[Any](s"${c}__mean")).fold(0.0)(_.toString.toDouble)
      val s0 = Option(row.getAs[Any](s"${c}__std")).fold(1.0)(_.toString.toDouble)
      val s = if (s0 == 0.0 || s0.isNaN) 1.0 else s0 // sklearn: zero-variance scale_ = 1.0
      c -> (m, s)
    }.toMap

  /** Apply a fitted scaler as projections. */
  def applyStandardScaler(df: DataFrame, scaler: Map[String, (Double, Double)]): DataFrame =
    scaler.foldLeft(df) { case (d, (c, (m, s))) =>
      d.withColumn(c, (col(c) - m) / s)
    }

  /** F7 — constant-column detection, pandas `nunique(dropna=False) <= 1`
    * parity (func_preproc.py:571-579): nulls count as a value. ONE aggregate
    * pass over all candidate columns (chunk the caller side if thousands of
    * columns — SURVEY §4.2). */
  def constantColumns(df: DataFrame, cols: Seq[String]): Seq[String] = {
    // struct(value, isNull) makes null a distinct value without a string
    // sentinel (a sentinel could collide with real data); countDistinct
    // never skips the row because the struct itself is non-null.
    val aggs = cols.map(c =>
      countDistinct(struct(col(c).cast("string"), col(c).isNull)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.filter(c => row.getAs[Long](c) <= 1L)
  }

  /** F7 fast path for ATOMIC (orderable) columns — the 900-column host
    * frame (func_preproc.py:554-560). [[constantColumns]]'s
    * k-countDistinct aggregate rewrites into an Expand that is QUADRATIC
    * in width (k rows out per input row × k-wide projections: 300 cols
    * at 50k rows already costs 320 s one-pass, 900 cols OOMs — measured,
    * SCALE.md "Round 10"); this form needs no Expand at all:
    *
    *   nunique(dropna=False) <= 1  ⟺  n_nonnull == 0
    *                                  ∨ (n_nonnull == n ∧ min == max)
    *
    * (mixed null+value ⇒ 0 < n_nonnull < n fails both arms; all-NaN ⇒
    * min = max = NaN and Spark SQL's NaN = NaN is true, matching pandas
    * counting NaN as one value; mixed NaN+v ⇒ min = v ≠ NaN = max.
    * Signed zeros: {0.0, −0.0} compares min = max ⇒ CONSTANT — pandas
    * parity (Python hashes/compares them equal, nunique = 1), where
    * [[constantColumns]]'s string-cast face sees "−0.0" ≠ "0.0"; on
    * that one shape this form is the reference-faithful one.)
    * Three plain aggregates per column, ONE pass, zero row fan-out —
    * 900 columns is just a 2700-field buffer on a single agg row. */
  def constantColumnsFast(df: DataFrame, cols: Seq[String]): Seq[String] = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
        min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n_rows")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("__n_rows")
    cols.filter { c =>
      val nn = row.getAs[Long](s"__n_$c")
      val mn = row.getAs[Any](s"__mn_$c")
      val mx = row.getAs[Any](s"__mx_$c")
      // value equality, not boxed equals: java.lang.Double.equals is
      // BITWISE (NaN.equals(NaN) true but (-0.0).equals(0.0) FALSE);
      // pandas parity needs IEEE == plus the all-NaN case
      val same = (mn, mx) match {
        case (a: Double, b: Double) => (a.isNaN && b.isNaN) || a == b
        case (a: Float, b: Float) => (a.isNaN && b.isNaN) || a == b
        case _ => mn == mx
      }
      nn == 0L || (nn == n && same)
    }
  }

  /** F6 — near-empty columns: null ratio > threshold
    * (pipeline_trainingmodels_network.py:390-396, threshold 0.95). */
  def nearEmptyColumns(df: DataFrame, cols: Seq[String], threshold: Double = 0.95): Seq[String] = {
    val aggs = cols.map(c => avg(col(c).isNull.cast("double")).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.filter(c => row.getAs[Double](c) > threshold)
  }

  /** G8 — downsample by fixed-width time bin: mean of `value` per
    * `floor(t / width)` (func_plot.py:181-195). */
  def downsample(df: DataFrame, t: Column, value: Column, width: Double): DataFrame =
    df.groupBy(floor(t / width).as("bin"))
      .agg(avg(value).as("mean_value"), count(lit(1)).as("n"))

  /** G17 — autocorrelation function to maxLag on a de-meaned series,
    * normalized by lag 0 (func_plot.py:43-54):
    * acf[k] = Σ (x_t−μ)(x_{t+k}−μ) / Σ (x_t−μ)².
    *
    * Distributed shape: compacted global position via the parallel
    * global index (range exchange + partition offsets — no
    * single-partition `lag` window), then lag-k pairs as an equi-join of
    * position i against positions i+1..i+maxLag (the right side exploded
    * maxLag ways), aggregated per lag in one pass. Every stage is fully
    * parallel; maxLag is small (plots), data can be big.
    */
  def acf(df: DataFrame, order: Column, value: Column, maxLag: Int): DataFrame = {
    // The reference drops NaNs and compacts the series (x = x[~isnan(x)])
    // BEFORE centering: lag-k pairs are adjacency in the compacted order,
    // and mu is the mean of the surviving values only.
    val clean = df.where(value.isNotNull && !isnan(value.cast("double")))
    val mu = clean.agg(avg(value)).head().getDouble(0)
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = clean.select((value - mu).cast("double").as("x"), order.as("o"))
      .repartitionByRange(parts, col("o")).sortWithinPartitions(col("o"))
    val xI = sorted.schema.fieldIndex("x")
    val K = maxLag
    // ONE parallel pass: per partition, within-partition lag products via a
    // ring buffer of the last K values, plus the first/last K values for
    // driver-side cross-boundary products (O(parts·K²) scalar work).
    val partials = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      val sums = new Array[Double](K + 1)
      val ring = new Array[Double](math.max(K, 1))
      val firstK = new scala.collection.mutable.ArrayBuffer[Double](K)
      var m = 0L
      it.foreach { r =>
        val v = r.getDouble(xI)
        sums(0) += v * v
        var k = 1
        while (k <= K && k <= m) {
          sums(k) += v * ring(((m - k) % K).toInt)
          k += 1
        }
        if (m < K) firstK += v
        if (K > 0) ring((m % K).toInt) = v
        m += 1
      }
      // last min(m, K) values in chronological order
      val nLast = math.min(m, K.toLong).toInt
      val lastK = new Array[Double](nLast)
      var j = 0
      while (j < nLast) {
        lastK(j) = ring(((m - nLast + j) % K).toInt)
        j += 1
      }
      Iterator((i, m, firstK.toArray, lastK, sums))
    }.collect().sortBy(_._1)

    // driver: cross-boundary products against the carried tail of the
    // previous partitions (handles short/empty partitions by chaining)
    val totals = new Array[Double](K + 1)
    var tail = Vector.empty[Double]
    partials.foreach { case (_, n, firstK, lastK, sums) =>
      var k = 0
      while (k <= K) { totals(k) += sums(k); k += 1 }
      var j = 0
      while (j < firstK.length) {
        var lag = j + 1
        while (lag <= K && (lag - j) <= tail.length) {
          if (lag > j) totals(lag) += firstK(j) * tail(tail.length - (lag - j))
          lag += 1
        }
        j += 1
      }
      if (n >= K) tail = lastK.toVector
      else tail = (tail ++ firstK).takeRight(K)
    }
    import spark.implicits._
    ((0, 1.0) +: (1 to K).map(k => (k, totals(k) / totals(0))))
      .toDF("lag", "acf")
  }

  /** Data-mixing weights: per-group sampling weight that reshapes the
    * corpus toward a target group distribution —
    * `weight(g) = target_frac(g) / actual_frac(g)` (groups absent from
    * the target get 0; a weight > 1 means the group must be upsampled).
    * One map-side-combined count aggregation; the k-row result is meant
    * to broadcast back onto the corpus (or feed
    * [[stratifiedSample]] rates after `min(1, w·scale)` capping). */
  def mixtureWeights(df: DataFrame, groupCol: Column,
      target: Map[String, Double]): DataFrame = {
    val counts = df.groupBy(groupCol.cast("string").as("grp"))
      .agg(count(lit(1)).as("n"))
    val total = Window.partitionBy()
    counts
      .withColumn("actual_frac", col("n") / sum("n").over(total))
      .withColumn("target_frac",
        coalesce(element_at(typedLit(target), col("grp")), lit(0.0)))
      .withColumn("weight", col("target_frac") / col("actual_frac"))
  }

  /** MATERIALIZE per-group mixture weights into a physically
    * epoch-expanded corpus — the step that turns [[mixtureWeights]] /
    * [[temperatureMixture]] / [[unimaxAllocation]] epochs / DoReMi
    * outputs into actual training rows: each document of group g is
    * emitted `⌊w_g⌋` times plus one more with probability `frac(w_g)`
    * (stochastic rounding, so every group's EXPECTED row count is
    * exactly `w_g · n_g` and no document is fractionally present). The
    * Bernoulli draw comes from the portable hash RNG keyed on
    * (seed, id) — deterministic across engines/partitionings/retries,
    * exactly replayable in SQL. Adds `copy` (0-based copy index; vary
    * the training shuffle key by it so repeats don't ride adjacent).
    *
    * Scale shape: the k-row weights table broadcasts onto the corpus;
    * the `sequence + explode` fan-out IS the output size (Σ w_g·n_g
    * rows), pipelined straight into the downstream consumer — no
    * intermediate blow-up, no shuffle. `id` must be a non-negative
    * numeric column (the RNG key contract). Weights must be ≥ 0;
    * groups absent from `weights` get 0 (dropped). */
  def materializeMixture(df: DataFrame, id: Column, groupCol: Column,
      weights: Map[String, Double], seed: Long): DataFrame = {
    require(weights.values.forall(_ >= 0.0), "weights must be >= 0")
    val w = coalesce(element_at(typedLit(weights),
      groupCol.cast("string")), lit(0.0))
    val extra = (Robustness.seededUniform(seed, id) < (w - floor(w)))
      .cast("long")
    val copies = (floor(w).cast("long") + extra).as("__n_copies")
    df.withColumn("__n_copies", copies)
      .where(col("__n_copies") > 0)
      .withColumn("copy",
        explode(sequence(lit(0L), col("__n_copies") - 1)))
      .drop("__n_copies")
  }

  /** Temperature-based mixture weights — the multinomial-temperature
    * reweighting used to flatten corpus domain/language mixes for
    * training (T=1 keeps natural proportions, T→∞ approaches uniform):
    * `target_frac(g) = n_g^(1/T) / Σ n^(1/T)`, weight = target/actual.
    * Same single count pass as [[mixtureWeights]], but the target
    * distribution is DERIVED from the data instead of supplied. */
  def temperatureMixture(df: DataFrame, groupCol: Column,
      temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    val all = Window.partitionBy()
    val powN = pow(col("n").cast("double"), 1.0 / temperature)
    df.groupBy(groupCol.cast("string").as("grp"))
      .agg(count(lit(1)).as("n"))
      .withColumn("actual_frac", col("n") / sum("n").over(all))
      .withColumn("target_frac", powN / sum(powN).over(all))
      .withColumn("weight", col("target_frac") / col("actual_frac"))
  }

  /** UniMax epoch-capped budget allocation (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling…"): divide a
    * token `budget` across groups as uniformly as possible, capping
    * every group at `maxEpochs` passes over its own `size` — the
    * mixing rule that stops low-resource domains being over-epoched
    * (temperature sampling's failure mode) without starving them.
    * Allocation is the waterfilling solution `alloc_g = min(size_g ·
    * maxEpochs, λ)` with λ chosen so the allocations spend the budget
    * (when the budget exceeds every cap, all groups allocate their cap
    * and the residual goes unspent — UniMax's own rule).
    *
    * The sequential waterfill has a CLOSED FORM over the
    * ascending-capacity order: with capacities c_1 ≤ … ≤ c_k and
    * prefix sums, λ_i = (B − Σ_{j<i} c_j)/(k − i + 1), and the
    * waterline is λ at the FIRST i with λ_i ≤ c_i — so the whole
    * computation is one count aggregation + window functions over the
    * k-row group table (no driver loop; the DuckDB twin runs the
    * identical expressions). The k-row window is single-partition by
    * construction — bounded by group cardinality like every mixture
    * table here.
    *
    * Returns (grp, size, capacity, allocation, epochs); feed
    * `allocation` into [[TextOps.selectByTokenBudget]] (budget per
    * group) or weights = allocation/size into [[weightedSample]]. */
  def unimaxAllocation(df: DataFrame, groupCol: Column, sizeCol: Column,
      budget: Double, maxEpochs: Double): DataFrame = {
    require(budget > 0.0 && maxEpochs > 0.0, "budget, maxEpochs > 0")
    val sizes = df.groupBy(groupCol.cast("string").as("grp"))
      .agg(sum(sizeCol.cast("long")).as("size"))
      .withColumn("capacity", col("size").cast("double") * lit(maxEpochs))
    val asc = Window.partitionBy().orderBy(col("capacity").asc, col("grp").asc)
    val all = Window.partitionBy()
    val withLambda = sizes
      .withColumn("__i", row_number().over(asc))
      .withColumn("__k", count(lit(1)).over(all))
      .withColumn("__cumBefore", coalesce(
        sum("capacity").over(asc.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0.0)))
      .withColumn("__lambda",
        (lit(budget) - col("__cumBefore")) / (col("__k") - col("__i") + 1))
    val firstI = min(when(col("__lambda") <= col("capacity"), col("__i"))).over(all)
    val waterline = max(when(col("__i") === firstI, col("__lambda"))).over(all)
    withLambda
      .withColumn("allocation", round(
        when(firstI.isNull || col("__i") < firstI, col("capacity"))
          .otherwise(waterline), 6))
      .withColumn("epochs",
        round(col("allocation") / col("size").cast("double"), 6))
      .select("grp", "size", "capacity", "allocation", "epochs")
  }

  /** Exact per-group quota: keep AT MOST `quota(g)` rows per group,
    * chosen by ascending engine-portable hash of the row key — a
    * deterministic "random" subset that is stable across partitioning,
    * retries, engines, and RERUNS WITH DIFFERENT QUOTAS (a smaller quota
    * selects a subset of a larger one, same as [[stratifiedSample]]'s
    * nesting).
    *
    * Physical shape: a single per-group rank window would funnel EVERY
    * row of a group through one partition (4 languages at 100 TB = 4
    * monster partitions), so this is the exact two-level tournament:
    * top-q within (group, hash-bucket) — `numBuckets`-way parallel —
    * then top-q of the ≤ numBuckets·q finalists per group. The global
    * top-q is always contained in the union of per-bucket top-qs, so the
    * result is IDENTICAL to the single-window form (the oracle pins it);
    * bucketing only affects parallelism. */
  def quotaPerGroup(df: DataFrame, idCol: Column, groupCol: Column,
      quota: Map[String, Int], defaultQuota: Int, seed: Long,
      numBuckets: Int = 256): DataFrame = {
    val q = coalesce(element_at(typedLit(quota), groupCol.cast("string")),
      lit(defaultQuota))
    val u = Robustness.seededUniform(seed, idCol)
    val bucket = pmod(xxhash64(idCol), lit(numBuckets))
    val w1 = Window.partitionBy(groupCol, bucket).orderBy(u.asc, idCol.asc)
    val w2 = Window.partitionBy(groupCol).orderBy(u.asc, idCol.asc)
    df.withColumn("__qrank", row_number().over(w1))
      .where(col("__qrank") <= q)
      .withColumn("__qrank", row_number().over(w2))
      .where(col("__qrank") <= q)
      .drop("__qrank")
  }

  /** Deterministic stratified sampler for training-data rebalancing
    * (down-weight over-represented domains/languages): keep a row iff the
    * engine-portable hash-uniform of (seed, idCol) is below its group's
    * rate. No `rand()` — the decision is a pure function of the row key,
    * so it is reproducible across partitioning, task retries, cluster
    * sizes, AND engines (the DuckDB twin uses [[IntHash]]'s SQL form).
    * Narrow (no shuffle); groups absent from `rates` fall back to
    * `defaultRate`. */
  def stratifiedSample(df: DataFrame, idCol: Column, groupCol: Column,
      rates: Map[String, Double], defaultRate: Double, seed: Long): DataFrame = {
    val rate = coalesce(element_at(typedLit(rates), groupCol.cast("string")),
      lit(defaultRate))
    df.where(Robustness.seededUniform(seed, idCol) < rate)
  }

  /** Distribution-matching rejection sampling — the curation move behind
    * "make this corpus's language/length/domain profile look like a
    * trusted reference slice": keep a hash-deterministic subset whose
    * marginal over `groupCol` matches `target` (shares, need not sum
    * to 1) while retaining as much data as possible. Per-group
    * acceptance rate `r_g = (t_g/n_g) / max_h(t_h/n_h)` — the group
    * that most under-shoots its target is kept whole (rate 1) and every
    * other group is thinned proportionally, so the kept marginal has
    * expectation exactly `target` over the targeted groups. Groups
    * absent from `target` (and null groups) are dropped.
    *
    * Scale shape: the ONLY wide step is the tiny per-group count
    * aggregate (map-side combined, k = |groups| rows collected — a
    * bounded model collect); the keep decision itself is a narrow
    * filter on [[Robustness.seededUniform]] of the row key, so it is
    * reproducible across partitioning, retries, cluster sizes, and
    * engines, and nests: lowering one group's target keeps a subset of
    * the rows it kept before (same uniform, smaller rate). */
  def matchDistribution(df: DataFrame, idCol: Column, groupCol: Column,
      target: Map[String, Double], seed: Long): DataFrame = {
    require(target.nonEmpty && target.values.forall(_ > 0.0),
      "target shares must be positive")
    val counts = df.groupBy(groupCol.cast("string").as("__g"))
      .agg(count(lit(1)).as("__n")).collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1))).toMap
    val ratios = counts.flatMap { case (g, n) =>
      target.get(g).map(t => g -> t / n.toDouble) }
    if (ratios.isEmpty) return df.where(lit(false))
    val maxRatio = ratios.values.max
    val rateMap = ratios.map { case (g, r) => g -> r / maxRatio }
    df.where(Robustness.seededUniform(seed, idCol) <
      coalesce(element_at(typedLit(rateMap), groupCol.cast("string")), lit(0.0)))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of groups `a` and `b` — the standard train/serve (or
    * split-vs-split) drift detector: `D = max_x |F_a(x) − F_b(x)|`.
    *
    * Physical shape: one groupBy(value) shrinks the data to its distinct
    * values with per-group counts, then the empirical CDFs are the
    * DISTRIBUTED prefix sum ([[SlidingWindows.withRunningTotal]] — range
    * exchange + per-partition offsets, no global single-partition window)
    * over value order, run once per group on the already-tiny distinct
    * table. Exact integer cumulative counts divide to identical doubles on
    * any engine, so D is bit-stable. Returns one row:
    * (ks_stat, n_a, n_b). */
  def ksStatistic(df: DataFrame, value: Column, group: Column,
      a: String, b: String): DataFrame = {
    val counts = df.where(group.isin(a, b))
      .groupBy(value.as("v"))
      .agg(sum(when(group === a, 1L).otherwise(0L)).as("ca"),
        sum(when(group === b, 1L).otherwise(0L)).as("cb"))
    val totals = counts.agg(sum("ca"), sum("cb")).collect()(0)
    val (nA, nB) = (totals.getLong(0), totals.getLong(1))
    val cum = SlidingWindows.withRunningTotal(
      SlidingWindows.withRunningTotal(counts, Seq(col("v")), col("ca"), "cum_a"),
      Seq(col("v")), col("cb"), "cum_b")
    cum.agg(max(abs(col("cum_a") / lit(nA) - col("cum_b") / lit(nB))).as("ks_stat"))
      .select(col("ks_stat"), lit(nA).as("n_a"), lit(nB).as("n_b"))
  }

  /** 1-D Wasserstein-1 (earth mover's) distance between the `value`
    * distributions of groups `a` and `b`:
    * W₁ = ∫ |F_a(x) − F_b(x)| dx = Σ_i |F_a(v_i) − F_b(v_i)|·(v_{i+1} − v_i)
    * over the sorted distinct values — the magnitude-sensitive drift
    * companion to [[ksStatistic]] (KS says WHETHER the distributions
    * moved; W₁ says HOW FAR, in the value's own units, and unlike KS it
    * doesn't saturate at 1 on disjoint supports). Returns ONE row
    * (w1, n_a, n_b, n_distinct).
    *
    * Scale shape: the corpus collapses to distinct values with per-group
    * counts in ONE map-side-combined pass; the CDF windows then run over
    * that collapsed table. The integral needs CONSECUTIVE value gaps, so
    * unlike [[ksStatistic]]'s max (prefix-sum-able), this op carries the
    * bounded-collapse contract: a loud `maxDistinct` gate (the
    * [[graft.ops.RankTests.kendallTau]] discipline) — a continuous 100 TB
    * column must be quantized first (round to the precision the drift
    * decision cares about; W₁ changes by at most the quantum), never the
    * gate raised blindly. */
  def wasserstein1(df: DataFrame, value: Column, group: Column,
      a: String, b: String, maxDistinct: Int = 65536): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.where(group.isin(a, b) && value.isNotNull)
      .groupBy(value.cast("double").as("v"))
      .agg(sum(when(group === a, 1L).otherwise(0L)).as("ca"),
        sum(when(group === b, 1L).otherwise(0L)).as("cb"))
    // the gate probe, the totals, and the integral all read the bounded
    // collapsed table — persist it so the corpus collapse runs ONCE
    // (all three actions are eager; the face is rebuilt locally below,
    // so the unpersist is safe)
    counts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val g = counts.limit(maxDistinct + 1).agg(count(lit(1)))
        .head().getLong(0)
      require(g <= maxDistinct,
        s"wasserstein1: > $maxDistinct distinct values — quantize the " +
          "column first (the integral needs consecutive value gaps; " +
          "rounding moves W1 by at most the quantum)")
      // coalesce: sum over ZERO rows is null — the loud require below
      // must fire with real counts, not a NullPointerException
      val totals = counts.agg(coalesce(sum("ca"), lit(0L)),
        coalesce(sum("cb"), lit(0L))).head()
      val (nA, nB) = (totals.getLong(0), totals.getLong(1))
      require(nA > 0 && nB > 0,
        s"wasserstein1: both groups must be non-empty, got n_a=$nA n_b=$nB")
      val w = Window.orderBy("v")
      val w1 = counts
        .withColumn("__cum_a", sum("ca").over(w))
        .withColumn("__cum_b", sum("cb").over(w))
        .withColumn("__dx", lead("v", 1).over(w) - col("v"))
        .where(col("__dx").isNotNull) // last value: F_a = F_b = 1, no gap
        .agg(coalesce(sum(
          abs(col("__cum_a") / lit(nA.toDouble)
            - col("__cum_b") / lit(nB.toDouble)) * col("__dx")), lit(0.0)))
        .head().getDouble(0)
      Seq((w1, nA, nB, g)).toDF("w1", "n_a", "n_b", "n_distinct")
    } finally counts.unpersist(blocking = false)
  }

  /** Two-sample Cramér–von Mises statistic (Anderson 1962):
    * T = (n_a·n_b / N²) · Σ_{x ∈ combined sample} [F_a(x) − F_b(x)]²
    * — the whole-curve drift test between [[ksStatistic]]'s single
    * worst gap and [[wasserstein1]]'s unit-carrying integral: T weighs
    * EVERY observation's ECDF discrepancy, so a broad small shift that
    * never produces one large gap still registers. Returns ONE row
    * (cvm, n_a, n_b).
    *
    * Scale shape: identical to [[ksStatistic]] — one distinct-value
    * collapse, distributed prefix sums for both CDFs, one scalar
    * reduce weighted by the per-value multiplicity. No consecutive-gap
    * term, so no bounded-collapse gate is needed. */
  def cramerVonMises(df: DataFrame, value: Column, group: Column,
      a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.where(group.isin(a, b) && value.isNotNull)
      .groupBy(value.cast("double").as("v"))
      .agg(sum(when(group === a, 1L).otherwise(0L)).as("ca"),
        sum(when(group === b, 1L).otherwise(0L)).as("cb"))
    // persist: the totals pass and the prefix-sum passes all read the
    // bounded collapsed table — one corpus collapse, not three
    counts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val totals = counts.agg(coalesce(sum("ca"), lit(0L)),
        coalesce(sum("cb"), lit(0L))).head()
      val (nA, nB) = (totals.getLong(0), totals.getLong(1))
      require(nA > 0 && nB > 0,
        s"cramerVonMises: both groups must be non-empty, got n_a=$nA n_b=$nB")
      val n = (nA + nB).toDouble
      val cum = SlidingWindows.withRunningTotal(
        SlidingWindows.withRunningTotal(counts, Seq(col("v")), col("ca"), "cum_a"),
        Seq(col("v")), col("cb"), "cum_b")
      val d = col("cum_a") / lit(nA.toDouble) - col("cum_b") / lit(nB.toDouble)
      // the n_a·n_b factor in DOUBLE — the long product overflows at
      // ~3e9 rows per side
      val s = cum.agg(coalesce(sum(
          (col("ca") + col("cb")).cast("double") * d * d), lit(0.0)))
        .head().getDouble(0)
      Seq((s * (nA.toDouble * nB.toDouble / (n * n)), nA, nB))
        .toDF("cvm", "n_a", "n_b")
    } finally counts.unpersist(blocking = false)
  }

  /** Fused multi-column drift report — the 100 TB answer to "run the
    * drift monitor over every feature": [[ksStatistic]], [[wasserstein1]],
    * [[cramerVonMises]], and a PSI each cost one corpus pass per column,
    * so a 100-feature monitor would pay 100 scans; this op MELTS the
    * requested columns in ONE scan (explode to (feature, value), then a
    * map-side-combined collapse to per-feature distinct-value cells) and
    * computes all four statistics for every feature from that single
    * collapsed table. Per feature: ks (max ECDF gap), w1 (the
    * unit-carrying integral), cvm (the whole-curve T), and psi — PSI on
    * EXACT reference-ECDF quantile bins (bin = ⌈F_a(v)·k⌉−1 clamped to
    * [0, k−1], add-`psiAlpha` smoothing over the k-bin domain): unlike
    * the production [[psi]] face it needs no separate reference
    * bin-fitting pass, because the exact CDF is already on the collapsed
    * table — ties collapse into one bin, so the two PSI variants agree
    * exactly only on tie-free deciles.
    *
    * Scale shape: the explode multiplies rows ×|cols| BEFORE the
    * partial aggregation, but the map-side combine collapses to cells
    * immediately — the shuffle carries ≤ |cols|·distinct cells, never
    * rows. The collapsed table is persisted so the bounded per-feature
    * probe (|cols| rows out — it runs BEFORE any driver-sized
    * materialization), the CDF windows (per-feature partitioned), and
    * the PSI re-bin all share ONE corpus scan. The W1 gap term carries
    * [[wasserstein1]]'s bounded-collapse contract per feature: a loud
    * `maxDistinct` gate NAMING the offending features — quantize those
    * columns first, never raise the gate blindly. All-null and
    * single-group features are refused loudly by name (the
    * [[wasserstein1]] non-empty contract). Returns one row per feature:
    * (feature, n_a, n_b, n_distinct, ks, w1, cvm, psi), feature order. */
  def driftReport(df: DataFrame, cols: Seq[String], group: Column,
      a: String, b: String, maxDistinct: Int = 65536,
      psiBins: Int = 10, psiAlpha: Double = 0.5): DataFrame = {
    require(cols.nonEmpty, "driftReport: need at least one column")
    require(cols.distinct.size == cols.size, "driftReport: duplicate columns")
    require(psiBins >= 2, "driftReport: need psiBins >= 2")
    require(psiAlpha > 0.0, "driftReport: psiAlpha must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val melted = df.where(group.isin(a, b))
      .select(group.as("__g"),
        explode(array(cols.map(c =>
          struct(lit(c).as("f"), col(c).cast("double").as("v"))): _*)).as("__s"))
      .select(col("__g"), col("__s.f").as("f"), col("__s.v").as("v"))
      .where(col("v").isNotNull)
    val cells = melted.groupBy("f", "v")
      .agg(sum(when(col("__g") === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col("__g") === b, 1L).otherwise(0L)).as("cb"))
    cells.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the gate probe is a bounded-output aggregate (|cols| rows) and
      // runs BEFORE anything else touches the cell table
      val per = cells.groupBy("f").agg(count(lit(1)).as("nd"),
          coalesce(sum("ca"), lit(0L)).as("na"),
          coalesce(sum("cb"), lit(0L)).as("nb")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val over = per.filter(_._2 > maxDistinct).map(_._1).sorted
      require(over.isEmpty,
        s"driftReport: [${over.mkString(", ")}] exceed $maxDistinct " +
          "distinct values — quantize those columns first (the W1 gap " +
          "term needs consecutive values; rounding moves W1 by at most " +
          "the quantum)")
      val missing = (cols.toSet -- per.map(_._1)).toSeq.sorted
      require(missing.isEmpty,
        s"driftReport: [${missing.mkString(", ")}] have no non-null " +
          "values in either group")
      val empty = per.filter(p => p._3 == 0 || p._4 == 0).map(_._1).sorted
      require(empty.isEmpty,
        s"driftReport: [${empty.mkString(", ")}] are empty in group " +
          s"'$a' or '$b' — both slices must be non-empty per feature")
      val totals = per.toSeq.toDF("f", "nd", "na", "nb")
      val wf = Window.partitionBy("f").orderBy("v")
      // the KS/W1/CvM triad and the PSI binning BOTH read the CDF rows:
      // pin them so the (gate-bounded, <= |cols|·maxDistinct rows)
      // window computes once, not once per consumer (r13)
      val cum = cells
        .withColumn("__cum_a", sum("ca").over(wf))
        .withColumn("__cum_b", sum("cb").over(wf))
        .withColumn("__dx", lead("v", 1).over(wf) - col("v"))
        .join(broadcast(totals), Seq("f"))
        .withColumn("__d", col("__cum_a").cast("double") / col("na")
          - col("__cum_b").cast("double") / col("nb"))
        .localCheckpoint(false)
      val triad = cum.groupBy("f", "na", "nb", "nd").agg(
          max(abs(col("__d"))).as("ks"),
          coalesce(sum(when(col("__dx").isNotNull,
            abs(col("__d")) * col("__dx"))), lit(0.0)).as("w1"),
          sum((col("ca") + col("cb")).cast("double")
            * col("__d") * col("__d")).as("__s"))
        .withColumn("cvm", col("__s") * (col("na").cast("double") * col("nb")
          / ((col("na") + col("nb")).cast("double") * (col("na") + col("nb")))))
      val binned = cum
        .withColumn("__bin", least(greatest(
          ceil(col("__cum_a").cast("double") / col("na") * lit(psiBins))
            - lit(1L), lit(0L)), lit(psiBins - 1L)))
        .groupBy("f", "na", "nb", "__bin")
        .agg(sum("ca").as("nr"), sum("cb").as("nc"))
      val dense = totals.select("f", "na", "nb")
        .crossJoin(spark.range(psiBins).select(col("id").as("__bin")))
        .join(binned, Seq("f", "na", "nb", "__bin"), "left")
        .na.fill(0L, Seq("nr", "nc"))
      val psiDf = dense
        .withColumn("__p",
          (col("nr") + lit(psiAlpha)) / (col("na") + lit(psiAlpha * psiBins)))
        .withColumn("__q",
          (col("nc") + lit(psiAlpha)) / (col("nb") + lit(psiAlpha * psiBins)))
        .groupBy("f")
        .agg(sum((col("__p") - col("__q")) * log(col("__p") / col("__q")))
          .as("psi"))
      val out = triad.join(psiDf, Seq("f"))
        .select(col("f").as("feature"), col("na").as("n_a"),
          col("nb").as("n_b"), col("nd").as("n_distinct"),
          col("ks"), col("w1"), col("cvm"), col("psi"))
        .orderBy("feature")
      // materialize the |cols|-row report EAGERLY so the unpersist in
      // the finally cannot silently demote the shared cell cache back
      // to per-branch corpus rescans (the result is model-sized — one
      // row per feature — so the collect is bounded by construction)
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally cells.unpersist(blocking = false)
  }

  /** Welch's unequal-variance t-test between groups `a` and `b` on
    * `value`: t statistic + Welch–Satterthwaite degrees of freedom (plus
    * the group means). ONE map-side-combinable aggregation — conditional
    * aggregates, no second pass, no shuffle beyond the 1-row combine. */
  def welchTTest(df: DataFrame, value: Column, group: Column,
      a: String, b: String): DataFrame = {
    val va = when(group === a, value)
    val vb = when(group === b, value)
    df.agg(
        avg(va).as("m1"), avg(vb).as("m2"),
        var_samp(va).as("s1"), var_samp(vb).as("s2"),
        count(va).as("n1"), count(vb).as("n2"))
      .select(
        ((col("m1") - col("m2")) /
          sqrt(col("s1") / col("n1") + col("s2") / col("n2"))).as("t_stat"),
        (pow(col("s1") / col("n1") + col("s2") / col("n2"), 2) /
          (pow(col("s1") / col("n1"), 2) / (col("n1") - 1) +
           pow(col("s2") / col("n2"), 2) / (col("n2") - 1))).as("dof"),
        col("m1").as("mean_a"), col("m2").as("mean_b"),
        col("n1").as("n_a"), col("n2").as("n_b"))
  }

  /** Krippendorff's alpha, nominal data (Krippendorff 2004, "Content
    * Analysis" §11 — public method): chance-corrected agreement over ANY
    * number of raters with missing ratings allowed — the multi-rater /
    * incomplete-panel generalization of Cohen's kappa for labeling-
    * pipeline QA. Input is one row per RATING (item, label); rater
    * identity is irrelevant for nominal alpha — only the per-item label
    * multiset matters. Items with fewer than 2 ratings are excluded
    * (they carry no agreement information).
    *
    * With r_ic = #ratings of label c on item i, n_i = Σ_c r_ic,
    * n = Σ n_i, n_c = Σ_i r_ic:
    *   observed off-diagonal mass  Do' = Σ_i (n_i² − Σ_c r_ic²)/(n_i − 1)
    *   alpha = 1 − (n − 1) · Do' / (n² − Σ_c n_c²)
    * Every term is exact integer arithmetic except the per-item division
    * — engine-portable to the ulp. 1.0 = perfect agreement, 0 = chance,
    * < 0 = systematic disagreement.
    *
    * Scale shape: one (item, label)-keyed count, one item-keyed
    * reduction, two scalar aggregates — all map-side combined; nothing
    * driver-side but 4 scalars. Returns (alpha, n_items, n_ratings). */
  def krippendorffAlpha(df: DataFrame, item: Column, label: Column): DataFrame = {
    val r = df.where(label.isNotNull)
      .groupBy(item.as("__i"), label.as("__c"))
      .agg(count(lit(1)).as("__r"))
      // two consumers (per-item moments + the label marginal join):
      // collapse the corpus once (r12)
      .localCheckpoint(false)
    val perItem = r.groupBy("__i")
      .agg(sum("__r").as("__n"), sum(col("__r") * col("__r")).as("__r2"))
      .where(col("__n") >= 2)
    val obs = perItem.agg(
      sum((col("__n") * col("__n") - col("__r2")).cast("double") /
        (col("__n") - 1)).as("do_off"),
      sum("__n").as("n"), count(lit(1)).as("n_items"))
    val marg = r.join(perItem.select("__i"), Seq("__i")) // items with n_i >= 2 only
      .groupBy("__c").agg(sum("__r").as("__nc"))
      .agg(sum(col("__nc") * col("__nc")).as("nc2"))
    obs.crossJoin(marg).select(
      (lit(1.0) - (col("n") - 1) * col("do_off") /
        (col("n") * col("n") - col("nc2"))).as("alpha"),
      col("n_items"), col("n").as("n_ratings"))
  }

  /** Benjamini–Hochberg FDR control (Benjamini & Hochberg 1995, "Controlling
    * the False Discovery Rate" — public method) over a table of hypothesis
    * tests (id, p-value): rank p ascending, reject every hypothesis up to
    * the LARGEST rank i with p_i ≤ i·q/m, and report the BH-adjusted
    * p-value (step-up running min of p_j·m/j from the largest rank down,
    * clipped to 1). The multiple-testing gate for per-feature drift
    * monitoring: when m features are each tested for drift, raw α-level
    * cutoffs fire ~α·m false alarms per scan; BH bounds the EXPECTED
    * false-discovery fraction at q.
    *
    * Scale note: the input is a table of TESTS — one row per feature /
    * slice, schema-width- or cardinality-bounded (thousands, not a
    * corpus) — so the unpartitioned rank window is deliberate; the
    * corpus-sized work happened upstream in whatever produced the
    * p-values (one aggregation per feature). Ties in p break by id.
    * Returns (id, p, rank, p_adj, reject). */
  def bhFdr(df: DataFrame, id: Column, p: Column, q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0, 1), got $q")
    val wRank = Window.orderBy(col("p").asc, col("id").asc)
    val wAll = Window.partitionBy()
    val wSuffix = Window.orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(id.as("id"), p.cast("double").as("p"))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("p_adj",
        least(lit(1.0), min(col("p") * col("__m") / col("rank")).over(wSuffix)))
      .withColumn("__cut",
        max(when(col("p") <= col("rank") * lit(q) / col("__m"), col("rank")))
          .over(wAll))
      .select(col("id"), col("p"), col("rank").cast("long").as("rank"),
        col("p_adj"),
        (col("__cut").isNotNull && col("rank") <= col("__cut")).as("reject"))
  }

  /** Retention-vs-threshold sweep for score-based corpus filtering (the
    * DataComp/fastText-filter tuning table): for each candidate
    * threshold, how many documents and how much token mass survive
    * `score >= t`. The curve is what picks the operating point — "drop
    * the bottom 30% by quality" is a threshold read off this table, and
    * the doc-vs-token divergence exposes whether the filter
    * preferentially kills long or short documents.
    *
    * ONE map-side-combined pass: 2·|thresholds| + 2 conditional
    * aggregates over a 2-column projection; the per-threshold fractions
    * are driver arithmetic on the collected scalars. Thresholds compare
    * against the raw score column — pass a consistently-rounded score
    * (e.g. [[graft.ops.TextOps.qualityScore]], 6 dp) when cross-engine
    * boundary determinism matters. Returns one row per threshold:
    * (threshold, n_kept, frac_docs, tokens_kept, frac_tokens). */
  def retentionCurve(df: DataFrame, score: Column, weight: Column,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val spark = df.sparkSession
    import spark.implicits._
    val ts = thresholds.distinct.sorted
    val base = df.select(score.cast("double").as("__s"),
      weight.cast("long").as("__w"))
    val aggs = Seq(count(lit(1)).as("n_total"), sum(col("__w")).as("w_total")) ++
      ts.zipWithIndex.flatMap { case (t, i) =>
        Seq(count(when(col("__s") >= t, 1)).as(s"n$i"),
          sum(when(col("__s") >= t, col("__w"))).as(s"w$i"))
      }
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    require(row.getLong(0) > 0, "corpus is empty")
    val (nTot, wTot) = (row.getLong(0), row.getLong(1))
    ts.zipWithIndex.map { case (t, i) =>
      val n = row.getLong(2 + 2 * i)
      val w = if (row.isNullAt(3 + 2 * i)) 0L else row.getLong(3 + 2 * i)
      (t, n, n.toDouble / nTot, w, w.toDouble / wTot)
    }.toDF("threshold", "n_kept", "frac_docs", "tokens_kept", "frac_tokens")
  }

  /** Forward-fill resampling: evaluate each key's last-known payload on a
    * regular time grid (`gridStart to gridEnd by step`, same unit as
    * `t`) — the series-alignment op that turns irregular event streams
    * into fixed-rate features. Grid points before a key's first event
    * keep a null payload.
    *
    * Implemented as [[Joins.asofJoin]](grid, series): the grid is a
    * narrow distinct-keys × sequence explode (nKeys · nPoints rows), and
    * the fill is the single-shuffle union-carry — no per-point probe,
    * no interpolation pass. */
  def resampleFfill(series: DataFrame, keys: Seq[String], t: String,
      payload: Seq[String], gridStart: Long, gridEnd: Long,
      step: Long): DataFrame = {
    require(step > 0 && gridEnd >= gridStart, "need step > 0, gridEnd >= gridStart")
    val grid = series.select(keys.map(col): _*).distinct()
      .withColumn(t, explode(sequence(lit(gridStart), lit(gridEnd), lit(step))))
    Joins.asofJoin(grid, series, keys, t, t, payload)
  }

  /** Exponentially weighted moving average per group — the exact linear
    * recurrence `y_1 = x_1; y_t = (1−α)·y_{t−1} + α·x_t` (pandas
    * `ewm(alpha).mean()` with `adjust=False`), NOT the pow-weighted window
    * sum (whose `(1−α)^{−t}` terms overflow doubles past a few hundred
    * rows).
    *
    * A linear scan is the one shape Catalyst's window frames cannot
    * express, so this is the justified `flatMapSortedGroups` case: ONE
    * shuffle on the group key, one in-partition sort on (group, order),
    * then an O(1)-state streaming fold per group — groups never
    * materialize, so a single key spanning millions of rows still streams.
    * Appends `out` (double) to the projected (group ++ order ++ value)
    * columns. */
  def ewma(df: DataFrame, groupCol: String, orderCols: Seq[String],
      valueCol: String, alpha: Double, out: String = "ewma"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val keep = (groupCol +: orderCols :+ valueCol).distinct
    val proj = df.select(keep.map(col): _*)
    val schema = proj.schema.add(out, DoubleType)
    implicit val rowEnc: Encoder[Row] = Encoders.row(schema)
    val gIdx = proj.schema.fieldIndex(groupCol)
    val vIdx = proj.schema.fieldIndex(valueCol)
    val decay = 1.0 - alpha
    // Collision-free grouping key: a NULL group and the literal string
    // "null" must NOT fold into one EWMA series.
    proj.groupByKey(r =>
      if (r.isNullAt(gIdx)) "\u0000" else "v" + r.get(gIdx))(Encoders.STRING)
      .flatMapSortedGroups(orderCols.map(col): _*) { (_, it) =>
        var y = 0.0
        var first = true
        it.map { r =>
          val x = r.get(vIdx) match {
            case n: java.lang.Number => n.doubleValue()
            case _ => Double.NaN
          }
          y = if (first) x else decay * y + alpha * x
          first = false
          Row.fromSeq(r.toSeq :+ y)
        }
      }
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES): each row gets key `u^(1/w)` with
    * `u = hash-uniform(seed, id)`; the k largest keys are the sample.
    * Inclusion probability is proportional to weight, and — because `u`
    * is the engine-portable [[IntHash]] uniform, not `rand()` — the
    * selected set is a pure function of (seed, ids, weights): stable
    * across partitioning, task retries, and engines.
    *
    * Physical shape: narrow key projection + `orderBy(...).limit(k)`,
    * which Spark executes as TakeOrdered (per-partition top-k, driver
    * merge of k·parts rows) — no global sort, safe for modest k at any
    * input size. Rows with weight ≤ 0 are excluded. */
  def weightedSample(df: DataFrame, idCol: Column, weight: Column, k: Int,
      seed: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = Robustness.seededUniform(seed, idCol)
    df.where(weight.cast("double") > 0.0)
      .withColumn("__wkey", pow(u, lit(1.0) / weight.cast("double")))
      .orderBy(col("__wkey").desc, idCol.asc)
      .limit(k)
      .drop("__wkey")
  }

  /** One aggregation pass fitting several quantiles of `value` — the
    * shared fit behind [[fitQuantileBins]]/[[winsorize]]/[[robustScale]].
    *
    * `sketchK = 0` (default): Spark's exact linear-interpolation
    * `percentile`, which BUFFERS every value per partition — correct at
    * any tested sf, memory-quadratic in spirit at 100 TB.
    *
    * `sketchK > 0`: a mergeable KLL(sketchK) sketch
    * ([[org.apache.spark.sql.graft.KllDoublesAgg]]) — O(k·log n) bytes
    * per partition, shuffle carries ONE sketch per partition, normalized
    * rank error ≈ 1.65 % at k = 200 (99 % conf). The sketch returns
    * actual order statistics (INCLUSIVE rank), not interpolated values —
    * exact while n ≤ sketchK, error-bounded above (KllSketchSpec). */
  private[graft] def fitQuantiles(df: DataFrame, value: Column,
      qs: Seq[Double], roundTo: Int, sketchK: Int): Seq[Double] = {
    val v = value.cast("double")
    val row =
      if (sketchK > 0) {
        val shim = org.apache.spark.sql.graft.SketchShim
        df.agg(shim.kllAgg(v, sketchK).as("kll"))
          .select(qs.map(q => round(shim.kllQuantile(col("kll"), lit(q)), roundTo)): _*)
          .head()
      } else {
        val aggs = qs.map(q => round(percentile(v, lit(q)), roundTo))
        df.agg(aggs.head, aggs.tail: _*).head()
      }
    qs.indices.map(row.getDouble)
  }

  /** Fit k-quantile bin boundaries (one aggregation pass, k−1 scalars to
    * the driver). Boundaries are rounded to `roundTo` decimals —
    * quantization makes the bin ASSIGNMENT ulp-robust (an interpolated
    * cut differing in the last bit between engines/partitionings can no
    * longer flip a comparison). `sketchK > 0` swaps the exact
    * value-buffering `percentile` for the mergeable KLL sketch — the
    * 100 TB path (see [[fitQuantiles]]). */
  def fitQuantileBins(df: DataFrame, value: Column, k: Int,
      roundTo: Int = 6, sketchK: Int = 0): Seq[Double] = {
    require(k >= 2, "need k >= 2 bins")
    fitQuantiles(df, value, (1 until k).map(_.toDouble / k), roundTo, sketchK)
  }

  /** Per-GROUP quantiles — the grouped face of [[fitQuantiles]] (which
    * is global): one map-side-combined aggregation, one output row per
    * group with a `pNN` column per requested quantile. `sketchK = 0`
    * uses the exact interpolated `percentile` (value-buffering per
    * group — the oracle-comparable face); `sketchK > 0` aggregates a
    * mergeable KLL(k) sketch per group instead — the 100 TB path when
    * single groups are huge (O(k·log n) memory per group, not
    * O(group)). Outputs are rounded like every fitted fence here. */
  def groupedQuantiles(df: DataFrame, group: Column, value: Column,
      qs: Seq[Double], roundTo: Int = 6, sketchK: Int = 0): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "groupedQuantiles: quantiles must be non-empty, each in [0, 1]")
    def name(q: Double): String = "p" + BigDecimal(q * 100)
      .underlying.stripTrailingZeros.toPlainString.replace(".", "_")
    require(qs.map(name).distinct.size == qs.size,
      "groupedQuantiles: duplicate quantiles")
    val v = value.cast("double")
    if (sketchK > 0) {
      val shim = org.apache.spark.sql.graft.SketchShim
      df.groupBy(group.as("grp"))
        .agg(shim.kllAgg(v, sketchK).as("__sk"))
        .select(col("grp") +: qs.map(q =>
          round(shim.kllQuantile(col("__sk"), lit(q)), roundTo)
            .as(name(q))): _*)
    } else {
      val aggs = qs.map(q =>
        round(percentile(v, lit(q)), roundTo).as(name(q)))
      df.groupBy(group.as("grp")).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Assign the bin id (0..|bounds|) for `value` against fitted
    * boundaries: `bin = #{b : value > b}` — a pure branch-free projection
    * (codegen'd), no join, no shuffle. */
  def applyQuantileBins(value: Column, bounds: Seq[Double]): Column =
    bounds.foldLeft(lit(0))((acc, b) =>
      acc + when(value > lit(b), 1).otherwise(0))

  /** k-anonymity profile over quasi-identifier columns — the privacy
    * audit a dataset card needs before release: every QI combination's
    * row count plus its `at_risk` flag (`n < k` — individuals in such a
    * combination are re-identifiable within a group smaller than k).
    * ONE map-side-combined aggregation; suppress or generalize the
    * flagged combinations upstream (e.g. coarsen a column and re-run). */
  def kAnonymity(df: DataFrame, quasi: Seq[Column], k: Int): DataFrame = {
    require(quasi.nonEmpty && k >= 2, "need QI columns and k >= 2")
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < k)
  }

  /** l-diversity audit (Machanavajjhala et al. 2007, "l-Diversity:
    * Privacy Beyond k-Anonymity"): a k-anonymous QI group whose
    * SENSITIVE attribute is near-constant still leaks it. Per QI group:
    * group size, number of distinct sensitive values (distinct
    * l-diversity: `at_risk` when < l), and the Shannon entropy of the
    * sensitive distribution computed as `ln(n) − Σ c·ln(c) / n` — the
    * cancellation-free single-pass form (entropy l-diversity holds when
    * entropy ≥ ln(l)). Null sensitive values count as their own value
    * (groupBy semantics). Two map-side-combined aggregations — cells
    * (QI, sensitive) then QI — never a distinct over raw rows. */
  def lDiversity(df: DataFrame, quasi: Seq[String], sensitive: String,
      l: Int): DataFrame = {
    require(quasi.nonEmpty && l >= 2, "need QI columns and l >= 2")
    val cells = df.groupBy((quasi :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(quasi.map(col): _*)
      .agg(sum("__c").as("n"),
        count(lit(1)).as("n_sensitive"),
        sum(col("__c").cast("double") * log(col("__c").cast("double"))).as("__clc"))
      .withColumn("entropy", log(col("n").cast("double")) - col("__clc") / col("n"))
      .withColumn("at_risk", col("n_sensitive") < l)
      .drop("__clc")
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007, "t-Closeness:
    * Privacy Beyond k-Anonymity and l-Diversity") — the third leg of the
    * release triad after [[kAnonymity]] and [[lDiversity]]: an l-diverse
    * QI group whose sensitive DISTRIBUTION differs sharply from the
    * corpus-wide one still leaks (e.g. a group that is 90% one diagnosis
    * in a 5%-base-rate table). Per QI group, two distances between the
    * group's sensitive distribution p and the global q:
    *   - `tvd` — total variation ½·Σ|p−q| (the paper's equal-distance
    *     EMD for categorical sensitive attributes), and
    *   - `emd` — ordered EMD Σ|cumsum(p−q)| / (m−1) over the m global
    *     sensitive values in their natural sort order (the paper's
    *     ordered-distance form for ordinal/numeric attributes).
    * `at_risk` compares the distance picked by `ordered` against t.
    * Both distances are rounded to 9 dp (summation-order-stable — the
    * terms are ratios of counts, no large-number cancellation).
    *
    * Shape: one (QI, sensitive) cell count, one global sensitive count
    * (m rows, broadcast), cells right-joined against the m-value domain
    * per group so absent values contribute p=0 (a distance that skips
    * them is wrong), then a per-group sort-window cumsum over m rows.
    * Shuffles are on cell keys only — never raw rows past the first
    * aggregation. m is the sensitive-attribute cardinality (small by
    * definition for a privacy-released column); refused loudly past
    * `maxDomain` because the group×domain expansion is m·|groups|. */
  def tCloseness(df: DataFrame, quasi: Seq[String], sensitive: String,
      t: Double, ordered: Boolean = false, maxDomain: Int = 10000): DataFrame = {
    require(quasi.nonEmpty && t > 0.0 && t < 1.0, "need QI columns and 0 < t < 1")
    val s = col(sensitive)
    // ONE corpus pass (r12; was three): the global sensitive marginal
    // and the total row count are exact integer regroups of the
    // (quasi…, sensitive) cell table, so they derive from the
    // checkpointed collapse instead of re-scanning the corpus
    val cells = df.groupBy((quasi :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val global = cells.groupBy(s.as("__sv"))
      .agg(sum("__c").as("__gc"))
    val m = global.count()
    require(m <= maxDomain,
      s"tCloseness: sensitive domain $m > $maxDomain — bin the attribute first")
    val nTotal = cells.agg(coalesce(sum("__c"), lit(0L))).head().getLong(0)
    // group × domain grid (m rows per group; the global side is m rows —
    // broadcast by construction), group cells left-joined in so absent
    // sensitive values contribute p = 0
    val groups = cells.groupBy(quasi.map(col): _*).agg(sum("__c").as("n"))
    val grid = groups
      .crossJoin(broadcast(global.withColumn("__q",
        col("__gc").cast("double") / nTotal.toDouble)))
      .join(cells.withColumnRenamed(sensitive, "__sv"),
        quasi :+ "__sv", "left")
      .withColumn("__p", coalesce(col("__c"), lit(0L)).cast("double") / col("n"))
      .withColumn("__d", col("__p") - col("__q"))
    val w = Window.partitionBy(quasi.map(col): _*)
      .orderBy(col("__sv")).rowsBetween(Window.unboundedPreceding, 0)
    val dist = grid
      .withColumn("__cum", sum("__d").over(w))
      .groupBy(quasi.map(col): _*)
      .agg(
        max("n").as("n"), // constant per group
        round(sum(abs(col("__d"))) / 2.0, 9).as("tvd"),
        round(if (m > 1) sum(abs(col("__cum"))) / (m - 1.0) else lit(0.0), 9)
          .as("emd"))
    val d = if (ordered) col("emd") else col("tvd")
    dist.withColumn("at_risk", d > t)
  }

  /** ε-differentially-private group counts via the Laplace mechanism
    * (Dwork et al. 2006) with the PORTABLE seeded hash RNG: noise is
    * the inverse-CDF Laplace(sensitivity/ε) draw from
    * [[Robustness.seededUniform]] keyed on the group value, so the
    * released counts are deterministic per (seed, group) — reproducible
    * across engines, partitionings, and reruns (publish each release
    * under a FRESH seed; a reused seed reuses its noise). One
    * map-side-combined aggregation + a pure projection. Keeps `n_true`
    * alongside `n_noisy` for in-pipeline auditing — drop it before
    * publishing. */
  def dpGroupCounts(df: DataFrame, group: Column, epsilon: Double,
      seed: Long, sensitivity: Double = 1.0): DataFrame = {
    require(epsilon > 0.0 && sensitivity > 0.0, "need epsilon, sensitivity > 0")
    val b = sensitivity / epsilon
    // null group = its own group (groupBy semantics); hash its empty
    // string so the noise is non-null and deterministic, not silently
    // null-propagated
    val u0 = Robustness.seededUniform(seed,
      IntHash.stringHash(coalesce(col("grp").cast("string"), lit(""))))
    val u = greatest(least(u0, lit(1.0 - 1e-12)), lit(1e-12))
    val noise = when(u < 0.5, lit(b) * log(lit(2.0) * u))
      .otherwise(-lit(b) * log(lit(2.0) * (lit(1.0) - u)))
    df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("n_noisy", col("n_true") + noise)
  }

  /** ε-DP per-group MEAN via the clipped-sum Laplace mechanism (Dwork et
    * al. 2006 — the standard bounded-mean release recipe): each value is
    * clipped to [lo, hi] (bounding per-row sensitivity), the budget is
    * split ε/2 to the count (sensitivity 1) and ε/2 to the clipped sum
    * (sensitivity max(|lo|, |hi|) in the add/remove-one model), both get
    * inverse-CDF Laplace noise from the portable seeded hash RNG
    * ([[Robustness.seededUniform]], INDEPENDENT streams via "c|"/"s|"
    * salts on the group key), and the release is
    * noisy_sum / max(1, noisy_count).
    *
    * Deterministic per (seed, group) — reproducible across engines,
    * partitionings, reruns (publish under a FRESH seed each release).
    * The clipped values are 6-dp-quantized and summed as DECIMAL, so the
    * group sum is EXACT — no shuffle-order float drift at the rounding
    * face. One map-side-combined aggregation + a pure projection; keeps
    * the true count/sum alongside for in-pipeline auditing — drop both
    * before publishing. */
  def dpGroupMean(df: DataFrame, group: Column, value: Column,
      lo: Double, hi: Double, epsilon: Double, seed: Long): DataFrame = {
    require(epsilon > 0.0, "need epsilon > 0")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    val bCount = 2.0 / epsilon
    val bSum = 2.0 * math.max(math.abs(lo), math.abs(hi)) / epsilon
    val clipped = round(greatest(least(value.cast("double"), lit(hi)),
      lit(lo)), 6).cast("decimal(18,6)")
    def lap(salt: String, b: Double): Column = {
      val grpStr = coalesce(col("grp").cast("string"), lit(""))
      val u0 = Robustness.seededUniform(seed,
        IntHash.stringHash(concat(lit(salt), grpStr)))
      val u = greatest(least(u0, lit(1.0 - 1e-12)), lit(1e-12))
      when(u < 0.5, lit(b) * log(lit(2.0) * u))
        .otherwise(-lit(b) * log(lit(2.0) * (lit(1.0) - u)))
    }
    df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_true"),
        sum(clipped).as("sum_true"))
      .withColumn("n_noisy", col("n_true") + lap("c|", bCount))
      .withColumn("sum_noisy",
        col("sum_true").cast("double") + lap("s|", bSum))
      .withColumn("mean_dp",
        col("sum_noisy") / greatest(lit(1.0), col("n_noisy")))
  }

  /** Winsorization: clip `value` at the [lowerQ, upperQ] EXACT-quantile
    * fences fitted on `df` itself — the standard heavy-tail guard before
    * scaling/averaging (outlier-robust cousin of
    * [[fitStandardScaler]]; [[outlierStats]] REPORTS tail rows, this
    * REPAIRS them). Two passes by necessity (the fences are global
    * statistics): one percentile aggregation, fences collected (2
    * scalars), then a pure branch-free clip projection. Fences are
    * rounded like [[fitQuantileBins]] for ulp-robust cross-engine
    * comparison. `sketchK > 0` fits the fences from a mergeable KLL
    * sketch instead of the value-buffering exact `percentile` — the
    * 100 TB path (see [[fitQuantiles]]). Adds column `out`. */
  def winsorize(df: DataFrame, value: Column, lowerQ: Double = 0.01,
      upperQ: Double = 0.99, out: String = "winsorized",
      fenceRound: Int = 6, sketchK: Int = 0): DataFrame = {
    require(lowerQ >= 0.0 && lowerQ < upperQ && upperQ <= 1.0,
      "need 0 <= lowerQ < upperQ <= 1")
    val v = value.cast("double")
    val Seq(lo, hi) =
      fitQuantiles(df, v, Seq(lowerQ, upperQ), fenceRound, sketchK)
    df.withColumn(out, greatest(least(v, lit(hi)), lit(lo)))
  }

  /** Robust z-score scaling: `(x − median) / (1.4826 · MAD)` — the
    * outlier-resistant cousin of [[fitStandardScaler]] (mean/σ are
    * dragged by the very tails you're scaling against; median/MAD are
    * 50%-breakdown robust, and 1.4826 makes the unit match σ under
    * normality). Two fit passes by necessity (MAD needs the median
    * first), each a single quantile aggregation with the
    * [[fitQuantileBins]] rounding; then a pure projection. `sketchK > 0`
    * runs both fits on mergeable KLL sketches instead of the
    * value-buffering exact `percentile` — the 100 TB path (see
    * [[fitQuantiles]]). Fails loudly
    * on MAD = 0 (over half the values identical — scaling is
    * meaningless; winsorize or dedup first). */
  def robustScale(df: DataFrame, value: Column, out: String = "robust_z",
      fenceRound: Int = 6, sketchK: Int = 0): DataFrame = {
    val v = value.cast("double")
    val Seq(med) = fitQuantiles(df, v, Seq(0.5), fenceRound, sketchK)
    val Seq(mad) = fitQuantiles(df, abs(v - lit(med)), Seq(0.5), fenceRound, sketchK)
    require(mad > 0.0,
      s"MAD is 0 (median $med): over half the values are identical — " +
        "robust scaling is undefined; dedup or winsorize first")
    df.withColumn(out, (v - lit(med)) / lit(1.4826 * mad))
  }

  /** Per-group outlier profile: row counts outside the z-score fence
    * (`|x − μ| > z·σ`, population σ) and outside the Tukey IQR fence
    * (`x < q1 − f·IQR` or `x > q3 + f·IQR`, exact quartiles). Two passes
    * by necessity (fences are global statistics): one map-side-combined
    * aggregation for the fences, broadcast back, one aggregation for the
    * counts. Fences are rounded to `fenceRound` decimals for the same
    * ulp-robustness as [[fitQuantileBins]]. */
  def outlierStats(df: DataFrame, group: Column, value: Column,
      z: Double = 3.0, iqrFactor: Double = 1.5, fenceRound: Int = 6): DataFrame = {
    val v = value.cast("double")
    val fences = df.groupBy(group.as("grp"))
      .agg(avg(v).as("mu"), stddev_pop(v).as("sigma"),
        percentile(v, lit(0.25)).as("q1"), percentile(v, lit(0.75)).as("q3"))
      .select(col("grp"),
        round(col("mu") - lit(z) * col("sigma"), fenceRound).as("z_lo"),
        round(col("mu") + lit(z) * col("sigma"), fenceRound).as("z_hi"),
        round(col("q1") - lit(iqrFactor) * (col("q3") - col("q1")), fenceRound).as("iqr_lo"),
        round(col("q3") + lit(iqrFactor) * (col("q3") - col("q1")), fenceRound).as("iqr_hi"))
    df.select(group.as("grp"), v.as("__v"))
      .join(broadcast(fences), "grp")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v") < col("z_lo") || col("__v") > col("z_hi"), 1L)
          .otherwise(0L)).as("n_z_outliers"),
        sum(when(col("__v") < col("iqr_lo") || col("__v") > col("iqr_hi"), 1L)
          .otherwise(0L)).as("n_iqr_outliers"),
        first("iqr_lo").as("iqr_lo"), first("iqr_hi").as("iqr_hi"))
  }

  /** Categorical-distribution drift: KL(P‖Q), KL(Q‖P) and Jensen–Shannon
    * divergence (nats) between the `cat` distributions of the `isA` and
    * `isB` row slices — the categorical complement of [[ksStatistic]]
    * (which needs an ordered value). Laplace-smoothed over the observed
    * category union so unseen-on-one-side categories stay finite.
    *
    * ONE conditional-aggregation pass over the data; the divergences are
    * window sums over the |categories|-row count table (never a second
    * scan, nothing collected). Returns one row:
    * (kl_pq, kl_qp, js, n_a, n_b, n_categories). */
  def categoricalDivergence(df: DataFrame, cat: Column, isA: Column,
      isB: Column): DataFrame = {
    val counts = df.where(isA || isB)
      .groupBy(coalesce(cat.cast("string"), lit("§null§")).as("c"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isB, 1L).otherwise(0L)).as("nb"))
    val all = Window.partitionBy()
    val k = count(lit(1)).over(all)
    val p = (col("na") + 1.0) / (sum("na").over(all) + k)
    val q = (col("nb") + 1.0) / (sum("nb").over(all) + k)
    val m = (p + q) / 2.0
    counts
      .select(col("na"), col("nb"),
        (p * log(p / q)).as("t_pq"), (q * log(q / p)).as("t_qp"),
        (p * log(p / m) / 2.0 + q * log(q / m) / 2.0).as("t_js"))
      .agg(sum("t_pq").as("kl_pq"), sum("t_qp").as("kl_qp"),
        sum("t_js").as("js"), sum("na").as("n_a"), sum("nb").as("n_b"),
        count(lit(1)).as("n_categories"))
  }

  /** One-pass column profiler — the first query anyone runs on a new
    * table: per column, row/null/distinct counts, min/max/mean, in ONE
    * aggregation over the scan (k·6 aggregate expressions, never k
    * passes). Exact `countDistinct` over several columns costs one
    * Expand (rows × k before partial aggregation) — set `exact = false`
    * at 100 TB for HLL `approx_count_distinct` (one pass, no Expand, ±2%).
    * Returns k tidy rows (col_name, n_rows, n_nulls, n_distinct, min_v,
    * max_v, mean_v); the collect is the 1-row aggregate. */
  def profileTable(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val spark = df.sparkSession
    val nd: Column => Column =
      if (exact) countDistinct(_) else c => approx_count_distinct(c)
    // try_cast, not cast: string columns profile with NULL numeric
    // moments in BOTH ANSI and legacy sessions (and match the DuckDB
    // twins' TRY_CAST) instead of throwing under ANSI
    def tryD(c: Column): Column = c.try_cast(org.apache.spark.sql.types.DoubleType)
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
      nd(col(c)).as(s"${c}__distinct"),
      tryD(min(col(c))).as(s"${c}__min"),
      tryD(max(col(c))).as(s"${c}__max"),
      avg(tryD(col(c))).as(s"${c}__mean")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Long]("__n") // count(*): never null, even on empty input
    import spark.implicits._
    // Read every other aggregate through Option: min/max/mean (and sum on
    // an empty table) are SQL NULL for an all-null column, and
    // getAs[Double] would silently unbox that to 0.0 — a profiler
    // reporting min=max=mean=0.0 for a column it never saw a value of is
    // worse than no profiler.
    def optL(name: String): Option[Long] =
      Option(r.getAs[java.lang.Long](name)).map(_.toLong)
    def optD(name: String): Option[Double] =
      Option(r.getAs[java.lang.Double](name)).map(_.toDouble)
    cols.map(c => (c, n, optL(s"${c}__nulls"), optL(s"${c}__distinct"),
        optD(s"${c}__min"), optD(s"${c}__max"), optD(s"${c}__mean")))
      .toDF("col_name", "n_rows", "n_nulls", "n_distinct",
        "min_v", "max_v", "mean_v")
  }

  /** Pairwise Pearson correlation matrix over `cols` in ONE aggregation
    * pass — k·(k−1)/2 `corr` aggregates evaluated in a single map-side-
    * combined scan (never k² passes), stacked to tidy
    * (col_a, col_b, corr) rows by an in-row explode of the 1-row result. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least 2 columns")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    // explicit covar/stddev instead of corr(): Spark 4's Corr divides by
    // zero under ANSI mode when a column is constant — here a zero-
    // variance pair yields null (matching DuckDB's corr), and the k
    // stddevs are shared across the k(k-1)/2 pairs in the SAME single
    // aggregation pass.
    val aggs = cols.map(c => stddev_samp(col(c)).as(s"__sd_$c")) ++
      pairs.map { case (a, b) => covar_samp(col(a), col(b)).as(s"__cv_${a}__${b}") }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs.map { case (a, b) =>
        val (sa, sb) = (col(s"__sd_$a"), col(s"__sd_$b"))
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          when(sa > 0 && sb > 0, col(s"__cv_${a}__${b}") / (sa * sb))
            .as("corr"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Spearman rank correlation (Spearman 1904) — the monotone-
    * association complement of [[corrMatrix]]'s Pearson (drift in a
    * monotone-but-nonlinear relation is invisible to Pearson): Pearson
    * over MIDRANKS (average rank across ties — the proper tied-data
    * form).
    *
    * Scale shape: each variable collapses to its distinct-value count
    * table (ROC-collapse), midrank = #smaller + (#equal + 1)/2 from one
    * prefix-sum window over that bounded table; ranks broadcast-join
    * back by value, then ONE covar/stddev aggregation (the corrMatrix
    * ANSI-safe form). Never a window over raw rows. */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    // pairwise-complete: rank over EXACTLY the rows that enter the
    // correlation — ranking over all of df and then inner-joining away
    // rows where the OTHER variable is null would bias the midranks
    // (and Spark windows order nulls first vs DuckDB's nulls-last).
    //
    // ONE corpus pass (r12; was three): collapse to distinct (x, y)
    // CELLS with counts, derive each variable's midranks from the cell
    // table's per-value marginals, and compute the rank Pearson as
    // n-weighted moments over the cells. The midrank mean is EXACTLY
    // (N+1)/2 (midranks always sum to N(N+1)/2), and midranks and that
    // mean are exact doubles (half-integers below 2^52), so the centered
    // deviations are exact and the weighted sums carry no cancellation —
    // agreeing with the row-level stddev/covar form well inside the 6-dp
    // face. The previous form also broadcast a per-distinct-value rank
    // map (unbounded at scale); here every post-collapse join stays on
    // the bounded cell table.
    val cells = df.where(x.isNotNull && y.isNotNull)
      .groupBy(x.cast("double").as("__vx"), y.cast("double").as("__vy"))
      .agg(count(lit(1)).as("__n"))
      // three consumers (both rank tables + the final join); the lazy
      // checkpoint pins the collapse to ONE corpus scan instead of
      // betting on AQE stage reuse
      .localCheckpoint(false)
    // the rank tables derive FROM cells; their join keys are re-aliased
    // so the join condition is explicit and self-describing
    def midranks(v: String, k: String, r: String): DataFrame = {
      val byV = cells.groupBy(col(v)).agg(sum("__n").as("__nv"))
      val w = Window.orderBy(v)
        .rowsBetween(Window.unboundedPreceding, -1)
      byV.withColumn(r,
        coalesce(sum("__nv").over(w), lit(0L)).cast("double")
          + (col("__nv") + 1).cast("double") / 2.0)
        .select(col(v).as(k), col(r))
    }
    // N as an exact driver literal off the checkpointed cells (a bounded
    // 1-row agg) — a window total would funnel every cell through one
    // single-partition task just to attach a constant
    val nTotal = cells.agg(coalesce(sum("__n"), lit(0L))).head().getLong(0)
    if (nTotal == 0L) {
      // empty input: the same (n=0, spearman=null) face the aggregate
      // over an empty frame produced
      val spark = df.sparkSession
      import spark.implicits._
      return Seq((0L, Option.empty[Double])).toDF("n", "spearman")
    }
    val mean = (nTotal + 1) / 2.0 // exact: midranks always average to this
    cells
      .join(midranks("__vx", "__kx", "__rx"), col("__vx") === col("__kx"))
      .join(midranks("__vy", "__ky", "__ry"), col("__vy") === col("__ky"))
      .withColumn("__dx", col("__rx") - mean)
      .withColumn("__dy", col("__ry") - mean)
      .agg(coalesce(sum("__n"), lit(0L)).as("n"),
        sum(col("__n") * col("__dx") * col("__dy")).as("__sxy"),
        sum(col("__n") * col("__dx") * col("__dx")).as("__sxx"),
        sum(col("__n") * col("__dy") * col("__dy")).as("__syy"))
      .select(col("n"),
        round(when(col("__sxx") > 0 && col("__syy") > 0,
          col("__sxy") / sqrt(col("__sxx") * col("__syy"))), 6).as("spearman"))
  }

  /** Cohort retention matrix — the classic acquisition-quality table
    * (rows: cohorts by FIRST-activity period; columns: periods since):
    * retention(cohort, k) = distinct entities active in period
    * cohort + k over the cohort's size. Complements [[funnel]] (ordered
    * steps) and [[kaplanMeier]] (censored lifetimes) with the
    * calendar-aligned view.
    *
    * Scale shape: one entity-keyed min aggregation (the cohort
    * assignment), one distinct (entity, period) projection, one id-keyed
    * join of the two, one (cohort, offset) count — every shuffle keyed
    * by entity or by the bounded (cohort, offset) grid; all counts exact
    * integers. */
  def cohortRetention(df: DataFrame, entity: Column, ts: Column,
      periodUs: Long, maxOffset: Int): DataFrame = {
    require(periodUs > 0, "cohortRetention: periodUs must be > 0")
    require(maxOffset >= 0, "cohortRetention: maxOffset must be >= 0")
    val period = floor(ts.cast("double") / lit(periodUs.toDouble))
      .cast("long")
    val first = df.groupBy(entity.as("__e"))
      .agg(min(period).as("cohort"))
      // two consumers (the activity join + the cohort sizes): assign
      // cohorts once (r12)
      .localCheckpoint(false)
    val active = df.select(entity.as("__e2"), period.as("__p")).distinct()
    val joined = active.join(first, col("__e2") === col("__e"))
      .withColumn("offset", (col("__p") - col("cohort")).cast("int"))
      .where(col("offset") >= 0 && col("offset") <= maxOffset)
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
    joined.groupBy("cohort", "offset")
      .agg(countDistinct(col("__e2")).as("n_active"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("offset"), col("n_active"),
        col("n_cohort"),
        round(col("n_active").cast("double")
          / col("n_cohort").cast("double"), 6).as("retention"))
      .orderBy("cohort", "offset")
  }

  /** Time-weighted average per key: `Σ value·Δt / Σ Δt` with Δt the gap
    * to the NEXT event (step-function integral — each value holds until
    * superseded; the last event has no closing gap and is excluded).
    * One per-key window (lead) + one aggregation. */
  def timeWeightedAvg(df: DataFrame, key: Column, t: Column,
      value: Column): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("__t"))
    df.select(key.as("k"), t.as("__t"), value.as("__v"))
      .withColumn("__dt", (lead(col("__t"), 1).over(w) - col("__t")).cast("double"))
      .where(col("__dt").isNotNull)
      .groupBy(col("k"))
      .agg((sum(col("__v") * col("__dt")) / sum(col("__dt"))).as("twa"),
        count(lit(1)).as("n_intervals"),
        sum(col("__dt")).cast("long").as("span"))
  }

  /** Engine-portable k-fold assignment: fold = IntHash-mix(seed, id)
    * mod k — a pure narrow projection (no shuffle, no rand()), stable
    * across partitioning/retries/engines like [[stratifiedSample]];
    * folds partition the data by construction. */
  def foldAssign(idCol: Column, k: Int, seed: Long): Column = {
    require(k >= 2, "need k >= 2 folds")
    pmod(IntHash.mix(lit(seed), Seq(idCol)), lit(k.toLong)).cast("int")
  }

  /** Leakage-safe fractional split assignment: every GROUP — near-dup
    * cluster id, document family, user, whatever unit must never
    * straddle train/val/test — maps to ONE split by the portable
    * hash-uniform against cumulative fraction boundaries. Row-level
    * random splits leak: two near-identical documents land on opposite
    * sides and the eval set grades memorization; assigning by the
    * cluster id from [[Dedup.connectedComponents]] (or any grouping
    * key) closes that. The group is hashed via its STRING form
    * ([[IntHash.stringHash]]), so any key type works and the assignment
    * is reproducible across engines, partitionings, and reruns — a pure
    * projection, no shuffle, no state (streams as-is).
    *
    * `splits` are (name, fraction) in order; fractions must sum to 1.
    * Expected sizes are proportional; exact per-group placement is the
    * hash's. */
  def splitAssign(group: Column, splits: Seq[(String, Double)],
      seed: Long): Column = {
    require(splits.size >= 2 && splits.forall(_._2 > 0.0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "need >= 2 splits with positive fractions summing to 1")
    // null groups hash as "" — they land together in ONE deterministic
    // split instead of silently falling through every `when` to the
    // last one
    val u = Robustness.seededUniform(seed,
      IntHash.stringHash(coalesce(group.cast("string"), lit(""))))
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.init.zip(cums.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), c), acc) => when(u < lit(c), name).otherwise(acc)
    }
  }

  /** DuckDB twin of [[splitAssign]] over a string SQL expression (the
    * group's string form; nulls coalesce to '' like the Column form —
    * pass a simple column reference, it is spliced into `coalesce`). */
  def splitAssignSql(groupSql: String, splits: Seq[(String, Double)],
      seed: Long): String = {
    val u = Robustness.seededUniformSql(seed.toString,
      Seq(IntHash.stringHashSql(s"coalesce(CAST($groupSql AS VARCHAR), '')")))
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.init.zip(cums.init).foldRight(s"'${splits.last._1}'") {
      case (((name, _), c), acc) => s"(CASE WHEN $u < $c THEN '$name' ELSE $acc END)"
    }
  }

  /** Mutual information I(X;Y) in nats between two discrete columns —
    * the label↔feature dependence score used for feature selection
    * (higher = more informative feature).
    *
    * `I = Σ_xy (n_xy/N) · ln(n_xy·N / (n_x·n_y))`, null treated as its
    * own category.
    *
    * Physical shape: ONE shuffle — the joint `groupBy(x, y)` count; the
    * marginals and N are re-aggregated FROM the tiny joint table (at most
    * |X|·|Y| rows), so the raw data is scanned and shuffled exactly once
    * no matter how wide N grows. The joint table is broadcast-joined back
    * to its own marginals.
    */
  def mutualInfo(df: DataFrame, x: Column, y: Column): DataFrame = {
    val joint = df.groupBy(
        coalesce(x.cast("string"), lit("§null§")).as("x"),
        coalesce(y.cast("string"), lit("§null§")).as("y"))
      .agg(count(lit(1)).as("n_xy"))
      // three consumers (both marginals + the tagging join): collapse
      // the corpus once (r12)
      .localCheckpoint(false)
    val mx = joint.groupBy("x").agg(sum("n_xy").as("n_x"))
    val my = joint.groupBy("y").agg(sum("n_xy").as("n_y"))
    val n = Window.partitionBy()
    joint.join(broadcast(mx), "x").join(broadcast(my), "y")
      .withColumn("n", sum("n_xy").over(n))
      .agg(sum(col("n_xy") / col("n") *
        log(col("n_xy") * col("n") / (col("n_x") * col("n_y")))).as("mi_nats"))
  }

  /** Mann–Whitney U rank-sum test (Mann & Whitney 1947) between groups
    * `a` and `b` on `value` — the nonparametric complement of
    * [[welchTTest]] for skewed pipeline metrics (latencies, doc lengths,
    * quality scores) where a mean-based test is the wrong instrument.
    * Midranks for ties; z is the normal approximation with the standard
    * tie-corrected variance
    *   Var(U) = n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1)))
    * (report z against N(0,1); no p-value column — same convention as
    * [[welchTTest]], which reports t + dof).
    *
    * Scale shape: rows collapse to ONE map-side-combined count per
    * DISTINCT value (ca, cb, t) — ties are aggregated, never enumerated —
    * then a single-partition window over the distinct values computes
    * midranks (the same collapse-to-distinct-thresholds shape as the ROC
    * curves: the window input is |distinct values|, not |rows|), and one
    * scalar aggregate. Nulls and rows outside {a, b} are ignored. */
  def mannWhitneyU(df: DataFrame, value: Column, group: Column,
      a: String, b: String): DataFrame = {
    val v = value.cast("double")
    val cells = df.where(v.isNotNull && group.isin(a, b))
      .groupBy(v.as("__v"))
      .agg(
        count(when(group === a, lit(1))).as("__ca"),
        count(when(group === b, lit(1))).as("__cb"))
      .withColumn("__t", col("__ca") + col("__cb"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells.withColumn("__rank",
      coalesce(sum("__t").over(w), lit(0L)).cast("double") +
        (col("__t") + 1).cast("double") / 2.0)
    ranked.agg(
        sum(col("__ca") * col("__rank")).as("__ra"),
        sum("__ca").as("n_a"), sum("__cb").as("n_b"),
        sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__ties"))
      .select(
        (col("__ra") - col("n_a") * (col("n_a") + 1) / 2.0).as("u_a"),
        col("n_a"), col("n_b"), col("__ties"))
      .select(
        round(col("u_a"), 6).as("u_a"),
        round(col("n_a") * col("n_b") - col("u_a"), 6).as("u_b"),
        round(
          (col("u_a") - col("n_a") * col("n_b") / 2.0) /
            sqrt(col("n_a") * col("n_b") / 12.0 *
              ((col("n_a") + col("n_b") + 1) -
                col("__ties") / ((col("n_a") + col("n_b")) *
                  (col("n_a") + col("n_b") - 1)))), 9).as("z"),
        col("n_a"), col("n_b"))
  }

  /** Chi-squared independence test on the (group × category) contingency
    * table, plus Cramér's V effect size — the CATEGORICAL drift
    * instrument next to [[psi]] (binned, reference-vs-live) and
    * [[ksDrift]] (continuous): "did the label/source/lang mix shift
    * across splits?". Expected counts are the usual n_g·n_c/N; empty
    * grid cells contribute their full expected mass (a test that skips
    * them understates the statistic). Returns ONE row
    * (chi2, dof, cramers_v, n) — statistic + dof, no p-value, per the
    * [[welchTTest]] convention.
    *
    * Scale shape: rows collapse to one (group, category) cell count;
    * both marginals are cell-level aggregates; the dense grid is the
    * r×c marginal cross-join (both sides broadcast; r·c is table-card
    * squared, refused loudly past `maxCells`). */
  def chi2Drift(df: DataFrame, group: Column, category: Column,
      maxCells: Int = 1 << 20): DataFrame = {
    val obs = df.groupBy(
        coalesce(group.cast("string"), lit("§null§")).as("__g"),
        coalesce(category.cast("string"), lit("§null§")).as("__c"))
      .agg(count(lit(1)).as("__o"))
      // both marginals, their gate probes, and the grid join read the
      // cell table: collapse the corpus once (r12)
      .localCheckpoint(false)
    val mg = obs.groupBy("__g").agg(sum("__o").as("__ng"))
    val mc = obs.groupBy("__c").agg(sum("__o").as("__nc"))
    val (r, c) = (mg.count(), mc.count())
    require(r >= 2 && c >= 2, s"chi2Drift: need >= 2 groups and categories, got ($r, $c)")
    require(r * c <= maxCells,
      s"chi2Drift: grid $r x $c > $maxCells cells — bin the inputs first")
    val n = mg.agg(sum("__ng")).head().getLong(0)
    val grid = broadcast(mg).crossJoin(broadcast(mc))
      .join(obs, Seq("__g", "__c"), "left")
      .withColumn("__e", col("__ng").cast("double") * col("__nc") / n.toDouble)
    grid.agg(
        sum(pow(coalesce(col("__o"), lit(0L)).cast("double") - col("__e"), 2)
          / col("__e")).as("__chi2"))
      .select(
        round(col("__chi2"), 9).as("chi2"),
        lit((r - 1) * (c - 1)).as("dof"),
        round(sqrt(col("__chi2") / (n * (math.min(r, c) - 1.0))), 9)
          .as("cramers_v"),
        lit(n).as("n"))
  }

  /** Split-conformal interval radius (Vovk et al. 2005; Lei et al. 2018,
    * "Distribution-Free Predictive Inference for Regression"): q̂ = the
    * ⌈(n+1)(1−α)⌉-th smallest absolute residual |y − ŷ| on a held-out
    * calibration set. Under exchangeability, ŷ ± q̂ covers the true y
    * with probability ≥ 1 − α on fresh rows — the distribution-free
    * uncertainty band for ANY point predictor (labeler-model QA, score
    * thresholds with guarantees). The rank-k order statistic is taken
    * EXACTLY (no interpolation): `percentile_disc` at p = (k−½)/n — the
    * first value with cume_dist ≥ p, which is rank k robustly — so the
    * fitted radius is the identical residual VALUE in any engine. The
    * radius is then rounded UP at the 10^-roundTo grid (`ceil`, not
    * half-up: rounding DOWN would shrink the band below the rank-k
    * residual and void the finite-sample guarantee at the knife edge —
    * a ScalaCheck law caught exactly that). One aggregation pass + one
    * scalar; `sketchK > 0` takes the mergeable-KLL path at 100 TB
    * calibration sizes (rank error ~1.65%, see [[fitQuantiles]]).
    * Requires α > 1/(n+1) (else the guarantee needs an infinite band —
    * refused loudly). */
  def conformalFit(cal: DataFrame, yTrue: Column, yPred: Column,
      alpha: Double, roundTo: Int = 9, sketchK: Int = 0): Double = {
    require(alpha > 0.0 && alpha < 1.0, "need 0 < alpha < 1")
    val nc = abs(yTrue.cast("double") - yPred.cast("double"))
    val withNc = cal.select(nc.as("__nc")).where(col("__nc").isNotNull)
    val n = withNc.count()
    val k = math.ceil((n + 1) * (1.0 - alpha)).toLong
    require(k <= n,
      s"conformalFit: alpha=$alpha needs rank $k of $n residuals — " +
        "an infinite band; collect more calibration rows or raise alpha")
    val p = (k - 0.5) / n
    val raw =
      if (sketchK > 0) fitQuantiles(withNc, col("__nc"), Seq(p), roundTo, sketchK).head
      else withNc
        .agg(expr(s"percentile_disc(${java.lang.Double.toString(p)}) " +
          "WITHIN GROUP (ORDER BY __nc)"))
        .head().getDouble(0)
    // ceil at the grid, as the IEEE formula BOTH engine twins replay
    val grid = math.pow(10.0, roundTo)
    math.ceil(raw * grid) / grid
  }

  /** Group-conditional (Mondrian) split conformal (Vovk 2012 —
    * "Conditional validity of inductive conformal predictors"): a
    * per-group radius q̂_g from each group's own calibration residuals,
    * giving the 1 − α guarantee WITHIN every group — the fix when error
    * scale is heteroscedastic across sources/langs/models and one global
    * band over-covers the easy group while under-covering the hard one.
    * Same exact rank-⌈(n_g+1)(1−α)⌉ order statistic as [[conformalFit]],
    * taken per group: one map-side-combined group count (broadcast back)
    * + one group-partitioned rank window over the residuals — scales by
    * groups, no single-partition stage. Groups too small for the rank
    * (n_g + 1 ≤ rank ⇔ α ≤ 1/(n_g+1)) get a NULL radius — an infinite
    * band the caller must handle, not a silently-shrunk one. Returns
    * (group, n, qhat) with qhat ceil-rounded at the grid like
    * [[conformalFit]]. */
  def conformalFitGrouped(cal: DataFrame, group: Column, yTrue: Column,
      yPred: Column, alpha: Double, roundTo: Int = 9): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "need 0 < alpha < 1")
    val nc = abs(yTrue.cast("double") - yPred.cast("double"))
    val base = cal.select(group.as("grp"), nc.as("__nc"))
      .where(col("__nc").isNotNull)
      // two consumers (group sizes + the rank window): compute the
      // residuals once (r12)
      .localCheckpoint(false)
    val sizes = base.groupBy("grp").agg(count(lit(1)).as("n"))
      .withColumn("__k", ceil((col("n") + 1) * lit(1.0 - alpha)).cast("long"))
      // two consumers (the rank-hit join + the report's left join)
      .localCheckpoint(false)
    val w = Window.partitionBy("grp").orderBy(col("__nc"))
    val grid = math.pow(10.0, roundTo)
    val hit = base.withColumn("__r", row_number().over(w))
      .join(broadcast(sizes.select("grp", "__k")), "grp")
      .where(col("__r") === col("__k"))
      .select(col("grp"), (ceil(col("__nc") * grid) / grid).as("qhat"))
    sizes.select("grp", "n").join(hit, Seq("grp"), "left")
  }

  /** Apply a fitted conformal radius: adds `<out>_lo`/`<out>_hi` =
    * ŷ ∓ q̂ and `<out>_covered` (was the realized y inside the band —
    * null y stays null). Pure projection, streams as-is. */
  def conformalApply(df: DataFrame, yTrue: Column, yPred: Column,
      qhat: Double, out: String = "conf"): DataFrame =
    df.withColumn(s"${out}_lo", yPred.cast("double") - qhat)
      .withColumn(s"${out}_hi", yPred.cast("double") + qhat)
      .withColumn(s"${out}_covered",
        abs(yTrue.cast("double") - yPred.cast("double")) <= qhat)

  /** Interval score (Gneiting & Raftery 2007, "Strictly Proper Scoring
    * Rules, Prediction, and Estimation" §6.2) — the proper scoring rule
    * for a central (1−α) prediction band, the metric that RANKS interval
    * producers ([[conformalFit]] global vs [[conformalFitGrouped]] vs a
    * model's own quantiles) where raw coverage alone can be gamed by
    * infinite width:
    *   IS_α = (hi − lo) + (2/α)·(lo − y)⁺ + (2/α)·(y − hi)⁺.
    * Returns ONE row (n, coverage, mean_width, mean_interval_score) from
    * one map-side-combined aggregation over pure projections. Rows with
    * null y/lo/hi are excluded; inverted bands (hi < lo) are refused
    * loudly (they would score as negative width). */
  def intervalScore(df: DataFrame, yTrue: Column, lo: Column, hi: Column,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "need 0 < alpha < 1")
    val (y, l, h) = (yTrue.cast("double"), lo.cast("double"), hi.cast("double"))
    val rows = df.where(y.isNotNull && l.isNotNull && h.isNotNull)
    val inverted = rows.where(h < l).limit(1).count()
    require(inverted == 0L, "intervalScore: inverted bands (hi < lo) present")
    val pen = lit(2.0 / alpha)
    val score = (h - l) +
      pen * greatest(l - y, lit(0.0)) + pen * greatest(y - h, lit(0.0))
    rows.agg(
        count(lit(1)).as("n"),
        avg((y >= l && y <= h).cast("double")).as("__cov"),
        avg(h - l).as("__w"),
        avg(score).as("__is"))
      .select(col("n"),
        round(col("__cov"), 9).as("coverage"),
        round(col("__w"), 6).as("mean_width"),
        round(col("__is"), 6).as("mean_interval_score"))
  }

  /** Clustering-agreement suite — pair-counting precision / recall / F1,
    * Rand index, Adjusted Rand (Hubert & Arabie 1985), plus the
    * entropy-based homogeneity / completeness / V-measure (Rosenberg &
    * Hirschberg 2007): THE eval for a dedup clustering or topic
    * assignment against labeled truth ("did connectedComponents put the
    * planted duplicates together, and nothing else?"). All terms derive
    * from the (pred, truth) contingency cells:
    *   TP = Σ_cells C(c,2),  P = Σ_pred C(n,2),  T = Σ_truth C(n,2),
    *   ARI = (TP − P·T/C(n,2)) / ((P+T)/2 − P·T/C(n,2)),
    * entropies in the cancellation-free `ln n − Σ c·ln c / n` form.
    * Scale shape: ONE map-side-combined cell count, two cell-level
    * marginals, five scalar aggregates — rows never pair up (the pair
    * counts are algebra over cell sizes, never materialized pairs).
    * Returns one row; degenerate faces (single cluster, n < 2) yield
    * null for the affected ratios rather than a crash. */
  def clusterAgreement(df: DataFrame, pred: Column, truth: Column): DataFrame = {
    val cells = df.where(pred.isNotNull && truth.isNotNull)
      .groupBy(pred.as("__p"), truth.as("__t"))
      .agg(count(lit(1)).as("__c"))
    def pairs(c: Column): Column = (c * (c - 1) / 2).cast("double")
    def ent(cnt: Column): Column = cnt.cast("double") * log(cnt.cast("double"))
    val mp = cells.groupBy("__p").agg(sum("__c").as("__n"))
      .agg(sum(pairs(col("__n"))).as("pp"), sum(ent(col("__n"))).as("hp"))
    val mt = cells.groupBy("__t").agg(sum("__c").as("__n"))
      .agg(sum(pairs(col("__n"))).as("tp_"), sum(ent(col("__n"))).as("ht"))
    val tot = cells.agg(sum("__c").as("n"),
      sum(pairs(col("__c"))).as("tp"), sum(ent(col("__c"))).as("hc"))
    val j = tot.crossJoin(mp).crossJoin(mt)
    val n = col("n").cast("double")
    val all = pairs(col("n"))
    // H(T), H(P), H(T|P) in nats via the single-pass identity
    val hT = log(n) - col("ht") / n
    val hP = log(n) - col("hp") / n
    val hTgP = (col("hp") - col("hc")) / n   // Σ n_p ln n_p − Σ c ln c, / n
    val hPgT = (col("ht") - col("hc")) / n
    // guarded: n = 1 has zero total pairs and must yield null metrics,
    // not an ANSI DIVIDE_BY_ZERO (ScalaCheck found the face)
    val expected = when(all > 0, col("pp") * col("tp_") / all)
    val homog = when(hT > 0, lit(1.0) - hTgP / hT)
    val compl = when(hP > 0, lit(1.0) - hPgT / hP)
    j.select(
      col("n").cast("long").as("n"),
      col("tp").cast("long").as("tp_pairs"),
      round(when(col("pp") > 0, col("tp") / col("pp")), 9).as("precision"),
      round(when(col("tp_") > 0, col("tp") / col("tp_")), 9).as("recall"),
      round(when(col("pp") + col("tp_") > 0,
        lit(2.0) * col("tp") / (col("pp") + col("tp_"))), 9).as("f1"),
      round(when(all > 0, (all - col("pp") - col("tp_") + col("tp") * 2) / all), 9)
        .as("rand"),
      round(when(abs((col("pp") + col("tp_")) / 2 - expected) > 0,
        (col("tp") - expected) / ((col("pp") + col("tp_")) / 2 - expected)), 9)
        .as("ari"),
      round(homog, 9).as("homogeneity"),
      round(compl, 9).as("completeness"),
      round(when(homog + compl > 0,
        lit(2.0) * homog * compl / (homog + compl)), 9).as("v_measure"))
  }

  /** Effective sample size of an importance-weighted corpus (Kish 1965;
    * the standard diagnostic printed next to DSIR / soft-dedup /
    * mixture weights): ESS = (Σw)²/Σw², the equivalent count of
    * equal-weight rows. `ess_ratio` near 1 = weights barely matter;
    * near 0 = a few rows dominate (the resampled dataset is effectively
    * tiny — fix the weight model before training on it). `max_w_share`
    * is the single heaviest row's fraction of the total weight. ONE
    * map-side-combined aggregation; zero/negative weights are refused
    * loudly (they silently corrupt every downstream estimator). */
  def effectiveSampleSize(df: DataFrame, weight: Column): DataFrame = {
    val w = weight.cast("double")
    val bad = df.where(w.isNotNull && w <= 0.0).limit(1).count()
    require(bad == 0L, "effectiveSampleSize: non-positive weights present")
    df.where(w.isNotNull).agg(
        count(lit(1)).as("n"), sum(w).as("__s"), sum(w * w).as("__s2"),
        max(w).as("__mx"))
      .select(col("n"),
        round(col("__s"), 6).as("sum_w"),
        round(col("__s") * col("__s") / col("__s2"), 6).as("ess"),
        round(col("__s") * col("__s") / col("__s2") / col("n"), 9).as("ess_ratio"),
        round(col("__mx") / col("__s"), 9).as("max_w_share"))
  }

  /** Poisson(1) cumulative probabilities c_0..c_8 (shared by the Column
    * ladder, the native PoissonWeights expression, and the SQL twin —
    * identical Double literals everywhere). */
  val PoissonCum: Seq[Double] = {
    val probs = (0 to 8).scanLeft(math.exp(-1.0)) {
      case (p, k) => p / (k + 1)
    }.take(9)
    probs.scanLeft(0.0)(_ + _).tail
  }

  /** Inverse-CDF Poisson(1) draw from a uniform: the replicate weight of
    * the Poisson bootstrap. Ladder-truncated at 9 (P ≈ 1e-7, identical
    * rule in the SQL twin). The declarative reference form — the hot
    * path uses the bit-identical native PoissonWeights array expression
    * (parity spec-pinned against this). */
  private[graft] def poissonWeight(u: Column): Column =
    PoissonCum.zipWithIndex.reverse.foldLeft(lit(9): Column) {
      case (acc, (c, k)) => when(u < lit(c), lit(k)).otherwise(acc)
    }

  /** SQL twin of [[poissonWeight]] over a uniform SQL expression. */
  private def poissonWeightSql(u: String): String =
    PoissonCum.zipWithIndex.reverse.foldLeft("9") {
      case (acc, (c, k)) => s"(CASE WHEN $u < $c THEN $k ELSE $acc END)"
    }

  /** Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    * for massive data streams" — public method): a `level` confidence
    * interval for the mean of `value` without resampling rows. Each of
    * the `b` replicates weights every row by an independent Poisson(1)
    * draw — here a DETERMINISTIC inverse-CDF draw from the
    * engine-portable hash-uniform on (`seed`, `key`, replicate), so the
    * interval is reproducible across partitionings, retries, and engines
    * (exact DuckDB twin `g_bootstrap_ci`).
    *
    * Shape: ONE map-side-combined aggregation computing all 2·b
    * replicate sums (the q_profile wide-agg pattern — b ≤ a few hundred
    * keeps codegen happy), a 1-row collect, and a b-value driver
    * percentile (quantile_cont interpolation — the model is b numbers,
    * the data never moves). This is THE way to put error bars on
    * 100 TB aggregates: the classic bootstrap's k full resamples are
    * unrunnable; the Poisson weights ride the existing scan. Returns
    * one row (mean, ci_lo, ci_hi, n, b). */
  def bootstrapMeanCI(df: DataFrame, value: Column, key: Column,
      b: Int = 100, seed: Long = 7L, level: Double = 0.95): DataFrame = {
    require(b >= 10, "need b >= 10 replicates")
    require(level > 0.0 && level < 1.0, "level in (0, 1)")
    val base = df.select(value.cast("double").as("__x"), key.as("__k"))
    // ALL b hash draws ride one native-expression array (bit-identical
    // to the declarative poissonWeight(seededUniform(..)) per-column
    // form — parity spec-pinned), so each of the 2·b aggregate updates
    // is a plain array load. The declarative form inlined b full
    // hash-chain + CASE-ladder trees into the aggregate and generated
    // methods past the JIT's HugeMethodLimit: the whole aggregation ran
    // de-optimized (measured 17 s at b = 50 over sf0.1 events; 2.4 s
    // native, cold solo run).
    val withW = base.withColumn("__ws",
      org.apache.spark.sql.graft.StatShim.poissonWeightsCol(
        col("__k").cast("long"), seed, b))
    val aggs = (0 until b).flatMap(r => Seq(
      sum(element_at(col("__ws"), r + 1) * col("__x")).as(s"s$r"),
      sum(element_at(col("__ws"), r + 1).cast("long")).as(s"n$r"))) ++
      Seq(avg(col("__x")).as("m"), count(lit(1)).as("n"))
    val row = withW.agg(aggs.head, aggs.tail: _*).collect()(0)
    // replicate means rounded to 9 dp: float-summation-order noise is
    // below that, so the interval is bit-stable across partitionings and
    // engines (the LinearModel round9 pattern; the SQL twin rounds too)
    val means = (0 until b).map(r => math.rint(
      row.getAs[Double](s"s$r") / row.getAs[Long](s"n$r") * 1e9) / 1e9).sorted
    def q(p: Double): Double = { // quantile_cont interpolation over b values
      val h = p * (b - 1)
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, b - 1)
      means(lo) + (h - lo) * (means(hi) - means(lo))
    }
    val a = (1.0 - level) / 2.0
    val spark = df.sparkSession
    import spark.implicits._
    Seq((row.getAs[Double]("m"), q(a), q(1.0 - a), row.getAs[Long]("n"),
      b)).toDF("mean", "ci_lo", "ci_hi", "n", "b")
  }

  /** SQL twin of [[bootstrapMeanCI]] for the oracle: `table` must expose
    * (`valueSql`, `keySql`); replicates via a range cross join. */
  def bootstrapMeanCISql(tableSql: String, valueSql: String, keySql: String,
      b: Int, seed: Long, level: Double): String = {
    val u = Robustness.seededUniformSql(seed.toString, Seq(keySql, "t.r"))
    val a = (1.0 - level) / 2.0
    s"""WITH reps AS (
       |  SELECT t.r,
       |    round(sum((${poissonWeightSql(u)}) * $valueSql) /
       |      sum(${poissonWeightSql(u)}), 9) AS m
       |  FROM ($tableSql) src CROSS JOIN range($b) t(r)
       |  GROUP BY t.r),
       |base AS (SELECT avg($valueSql) AS mean, count(*) AS n
       |         FROM ($tableSql) src)
       |SELECT round(base.mean, 6) AS mean,
       |  round((SELECT quantile_cont(m, $a) FROM reps), 6) AS ci_lo,
       |  round((SELECT quantile_cont(m, ${1.0 - a}) FROM reps), 6) AS ci_hi,
       |  CAST(base.n AS BIGINT) AS n, $b AS b
       |FROM base""".stripMargin
  }

  /** Population Stability Index between a reference slice and a current
    * slice of `value` — the standard production drift monitor for model
    * inputs/scores: decile-ish bins are fitted on the REFERENCE slice
    * only ([[fitQuantileBins]] — one aggregation pass, k−1 driver
    * scalars), both slices are binned by the same branch-free projection,
    * and PSI = Σ_bins (p_b − q_b)·ln(p_b / q_b) with add-`alpha`
    * smoothing over the k-bin domain (empty bins must not produce ±∞ —
    * same Laplace treatment as [[categoricalDivergence]]).
    *
    * Shape: one fit aggregation over the reference + ONE conditional
    * binned aggregation over both slices (map-side combined to ≤ k
    * rows); the k-row bin table densifies over `spark.range(k)` and
    * folds to the scalar. Rule of thumb: PSI < 0.1 stable, 0.1–0.25
    * moderate shift, > 0.25 action. Returns one row
    * (psi, n_ref, n_cur). */
  def psi(df: DataFrame, value: Column, group: Column, ref: String,
      cur: String, k: Int = 10, alpha: Double = 0.5): DataFrame = {
    require(k >= 2, "need k >= 2 bins")
    require(alpha > 0.0, "alpha must be > 0 (zero bins otherwise blow up)")
    val bounds = fitQuantileBins(df.where(group === ref), value, k)
    val binned = df.where(group.isin(ref, cur))
      .select(group.as("__g"), applyQuantileBins(value, bounds).as("bin"))
      .groupBy("bin").agg(
        sum(when(col("__g") === ref, 1L).otherwise(0L)).as("nr"),
        sum(when(col("__g") === cur, 1L).otherwise(0L)).as("nc"))
    val dense = df.sparkSession.range(k)
      .select(col("id").cast("int").as("bin"))
      .join(binned, Seq("bin"), "left")
      .na.fill(0L, Seq("nr", "nc"))
    val wAll = Window.partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    dense
      .withColumn("__tr", sum("nr").over(wAll))
      .withColumn("__tc", sum("nc").over(wAll))
      .withColumn("__p",
        (col("nr") + lit(alpha)) / (col("__tr") + lit(alpha * k)))
      .withColumn("__q",
        (col("nc") + lit(alpha)) / (col("__tc") + lit(alpha * k)))
      .agg(
        sum((col("__p") - col("__q")) * log(col("__p") / col("__q")))
          .as("psi"),
        first("__tr").as("n_ref"), first("__tc").as("n_cur"))
  }

  /** Pre-aggregated MERGEABLE distinct-count sketch table — the 100 TB
    * pattern for interactive "distinct X by any dim subset" questions:
    * scan the raw data ONCE into per-fine-group HyperLogLog sketches
    * (Apache DataSketches HLL via Spark's `hll_sketch_agg`), persist the
    * tiny sketch table, and answer every coarser rollup by UNIONING
    * sketches (`hll_union_agg`) — no second scan of the raw data, ever.
    * HLL sketches are mergeable with bounded error: the union estimate
    * is not bit-identical to sketching the raw data at the coarse grain
    * (sparse→dense promotion differs along the two paths), but both stay
    * within the sketch's relative-error bound of the exact count —
    * SketchRollupSpec pins ≤2% on its fixture, with `n_rows` exact.
    *
    * Returns (dims…, hll binary, n_rows). Persist with plain parquet;
    * re-aggregate any dim subset with [[rollupHllSketches]]. */
  def buildHllSketches(df: DataFrame, dims: Seq[String], value: Column,
      lgConfigK: Int = 12): DataFrame = {
    require(dims.nonEmpty, "need at least one dim")
    df.groupBy(dims.map(col): _*)
      .agg(hll_sketch_agg(value, lit(lgConfigK)).as("hll"),
        count(lit(1)).as("n_rows"))
  }

  /** Roll a sketch table up to a coarser dim subset: union the sketches,
    * estimate, and sum the exact row counts. One aggregation over the
    * SKETCH table (bounded by the fine-grain group count — never the raw
    * data). */
  def rollupHllSketches(sketches: DataFrame, dims: Seq[String]): DataFrame = {
    val gb = if (dims.isEmpty) sketches.groupBy()
      else sketches.groupBy(dims.map(col): _*)
    gb.agg(
      hll_sketch_estimate(hll_union_agg(col("hll"), lit(false)))
        .as("n_distinct_est"),
      sum("n_rows").as("n_rows"))
  }

  /** Quantile twin of [[buildHllSketches]]: one raw scan into per-group
    * mergeable KLL doubles sketches (Karnin–Lang–Liberty 2016; Spark 4
    * ships DataSketches HLL but not KLL — `graft_kll_agg` is the native
    * TypedImperativeAggregate in functions/SketchExpressions.scala).
    * Sketches are O(k log n) bytes; the shuffle carries sketches, not
    * rows (map-side combine). Exact while a group holds ≤ k items;
    * ±~1.7%/√(k/200) normalized-rank error above (KllSketchSpec pins
    * both). Returns (dims…, kll binary, n_rows). */
  def buildKllSketches(df: DataFrame, dims: Seq[String], value: Column,
      k: Int = 200): DataFrame = {
    require(dims.nonEmpty, "need at least one dim")
    df.groupBy(dims.map(col): _*)
      .agg(org.apache.spark.sql.graft.SketchShim.kllAgg(value.cast(DoubleType), k)
          .as("kll"),
        count(lit(1)).as("n_rows"))
  }

  /** Roll a KLL sketch table up to a coarser dim subset and read the
    * requested quantiles: one aggregation over the SKETCH table (bounded
    * by the fine-grain group count), never the raw data. Returns
    * (dims…, quantiles array<double> — one entry per requested rank —
    * and exact n_rows). */
  def rollupKllSketches(sketches: DataFrame, dims: Seq[String],
      ranks: Seq[Double], k: Int = 200): DataFrame = {
    require(ranks.nonEmpty, "need at least one rank")
    val shim = org.apache.spark.sql.graft.SketchShim
    val gb = if (dims.isEmpty) sketches.groupBy()
      else sketches.groupBy(dims.map(col): _*)
    gb.agg(shim.kllMerge(col("kll"), k).as("kll"),
        sum("n_rows").as("n_rows"))
      .select(dims.map(col) ++ Seq(
        array(ranks.map(r => shim.kllQuantile(col("kll"), lit(r))): _*)
          .as("quantiles"),
        col("n_rows")): _*)
  }

  /** Heavy-hitters leg of the sketch triad: one raw scan into per-group
    * Misra–Gries frequent-items sketches (DataSketches `ItemsSketch`,
    * via the native `graft_freq_agg`). Exact while a group's distinct
    * items fit the map (≲ ¾·maxMapSize); above that, NO_FALSE_NEGATIVES
    * with error ≤ 3.5/maxMapSize·N. Returns (dims…, freq binary,
    * n_rows). */
  def buildFreqSketches(df: DataFrame, dims: Seq[String], item: Column,
      maxMapSize: Int = 64): DataFrame = {
    require(dims.nonEmpty, "need at least one dim")
    df.groupBy(dims.map(col): _*)
      .agg(org.apache.spark.sql.graft.SketchShim.freqAgg(item, maxMapSize)
          .as("freq"),
        count(lit(1)).as("n_rows"))
  }

  /** Roll a frequent-items sketch table up to a coarser dim subset and
    * explode the heavy hitters: (dims…, item, estimate, lower, upper,
    * n_rows), estimate-descending per group, `minCount`-filtered. One
    * aggregation over the SKETCH table — never the raw data. */
  def rollupFreqSketches(sketches: DataFrame, dims: Seq[String],
      maxMapSize: Int = 64, minCount: Long = 1): DataFrame = {
    val shim = org.apache.spark.sql.graft.SketchShim
    val gb = if (dims.isEmpty) sketches.groupBy()
      else sketches.groupBy(dims.map(col): _*)
    gb.agg(shim.freqMerge(col("freq"), maxMapSize).as("freq"),
        sum("n_rows").as("n_rows"))
      .select(dims.map(col) ++ Seq(
        explode(shim.freqItems(col("freq"))).as("hit"), col("n_rows")): _*)
      .select(dims.map(col) ++ Seq(col("hit.item").as("item"),
        col("hit.estimate").as("estimate"), col("hit.lower").as("lower"),
        col("hit.upper").as("upper"), col("n_rows")): _*)
      .where(col("estimate") >= minCount)
  }

  /** CUSUM change-point statistics (Page 1954, "Continuous Inspection
    * Schemes" — the classic sequential drift detector). Appends to every
    * row the two one-sided CUSUM statistics and their alarm flags:
    *
    *   S⁺_t = max(0, S⁺_{t−1} + (x_t − target − slack))   (upward shift)
    *   S⁻_t = max(0, S⁻_{t−1} + (target − x_t − slack))   (downward)
    *
    * The recursion LOOKS inherently sequential, but has the prefix-scan
    * closed form S_t = C_t − min(0, min_{j≤t} C_j) with C = running sum
    * of the drift terms — so the whole thing is TWO same-spec window
    * passes (one sort, no mapPartitions, no driver loop), shuffling once
    * on the partition keys exactly like `g_ewma`. With empty
    * `partitionCols` the series is a single global partition (document
    * why before using at scale; per-key monitoring is the 100 TB shape).
    *
    * Ordering must be unique per partition (pass tie-breakers in
    * `orderCols`) or the statistic is not well-defined. Determinism note:
    * when `value`, `target` and `slack` are integral-valued (e.g. counts,
    * or a metric pre-scaled to integer cents), every C_t is an exact
    * integer in double precision and the output is bit-identical across
    * partitionings AND engines regardless of window summation order —
    * the `g_cusum` oracle runs in that regime. */
  def cusum(df: DataFrame, partitionCols: Seq[Column], orderCols: Seq[Column],
      value: Column, target: Double, slack: Double = 0.0,
      threshold: Double = Double.PositiveInfinity): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    require(slack >= 0.0, "slack must be >= 0")
    val base = if (partitionCols.isEmpty) Window.orderBy(orderCols: _*)
      else Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    val w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = value.cast("double")
    df.withColumn("__c_up", sum(x - lit(target) - lit(slack)).over(w))
      .withColumn("__c_dn", sum(lit(target) - x - lit(slack)).over(w))
      .withColumn("cusum_up",
        col("__c_up") - least(lit(0.0), min(col("__c_up")).over(w)))
      .withColumn("cusum_dn",
        col("__c_dn") - least(lit(0.0), min(col("__c_dn")).over(w)))
      .withColumn("alarm_up", col("cusum_up") > threshold)
      .withColumn("alarm_dn", col("cusum_dn") > threshold)
      .drop("__c_up", "__c_dn")
  }

  /** DoReMi domain-mixture reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    * public method). Input: one row per document with a domain key, a
    * proxy-model loss, and a reference-model loss. The per-domain excess
    * loss λ_d = avg(max(loss − ref_loss, 0)) drives `steps` rounds of
    * the paper's exponentiated-gradient update from the uniform mix:
    *
    *   α′_d ∝ α_d · exp(η · λ_d)   (normalized),
    *   α_d ← (1 − c) · α′_d + c / k    (uniform smoothing, c =
    *   `smoothing`),
    *
    * and the published final mix is the AVERAGE of α over the steps
    * (`weight_avg`), with the last iterate kept as `weight_final`.
    * (The full paper interleaves updates with Group-DRO proxy training;
    * with a fixed pair of scored corpora the loss signal is static and
    * the update becomes this closed-form iteration — the pipeline-side
    * half of the recipe, matching how DSIR ships importance weights
    * without shipping a trainer.)
    *
    * Distributed shape: ONE map-side-combined aggregation collapses the
    * corpus to k = #domains rows (λ_d and n_d); the iteration runs on
    * the driver over that k-row model (bounded by a loud `require`,
    * default ≤ 65536 — domains are labels, not data) and the k-row
    * result is meant to broadcast back onto the corpus as sampling
    * weights. At 100 TB the cost is exactly one narrow scan.
    *
    * Determinism: λ_d and every α iterate are rounded to 9 decimals —
    * distributed-sum order noise and cross-engine exp() ulps sit far
    * below that, so the whole trajectory is bit-stable across
    * partitionings AND engines (the `mixture_doremi` oracle replays all
    * steps in DuckDB). Domains iterate in sorted-key order. */
  def doremiWeights(df: DataFrame, domainCol: Column, lossCol: Column,
      refLossCol: Column, steps: Int = 8, eta: Double = 0.5,
      smoothing: Double = 0.01, maxDomains: Int = 65536): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(eta > 0.0, "eta must be > 0")
    require(smoothing >= 0.0 && smoothing < 1.0, "smoothing must be in [0, 1)")
    val spark = df.sparkSession
    import spark.implicits._
    def round9(x: Double): Double = math.rint(x * 1e9) / 1e9
    val lam = df
      .groupBy(domainCol.cast("string").as("domain"))
      .agg(count(lit(1)).as("n"),
        round(avg(greatest(lossCol - refLossCol, lit(0.0))), 9)
          .as("excess_loss"))
      .collect() // bounded: k = #domains rows (the model, not the data)
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    require(lam.nonEmpty, "empty input frame")
    require(lam.length <= maxDomains,
      s"${lam.length} domains exceeds maxDomains=$maxDomains — domain " +
        "cardinality is data-sized, not label-sized; aggregate first")
    val k = lam.length
    var alpha = Array.fill(k)(round9(1.0 / k))
    val accum = Array.fill(k)(0.0)
    for (_ <- 1 to steps) {
      val unnorm = Array.tabulate(k)(i =>
        alpha(i) * math.exp(eta * lam(i)._3))
      val z = unnorm.sum
      alpha = Array.tabulate(k)(i =>
        round9((1.0 - smoothing) * unnorm(i) / z + smoothing / k))
      var i = 0
      while (i < k) { accum(i) += alpha(i); i += 1 }
    }
    // weight_avg is NOT re-rounded: the α iterates are exact 1e-9
    // multiples, so their mean lands exactly on .5 at the 9th decimal
    // and half-even (JVM) vs half-away (SQL round) would disagree.
    // Instead both engines sum the bit-identical rounded iterates in
    // the same order and divide — bit-identical without rounding.
    lam.indices.map { i =>
      (lam(i)._1, lam(i)._2, lam(i)._3, alpha(i), accum(i) / steps)
    }.toDF("domain", "n", "excess_loss", "weight_final", "weight_avg")
  }

  /** Lorenz curve + Gini concentration of a weight across groups — the
    * "how concentrated is my corpus" mixing diagnostic (a handful of
    * domains carrying 80% of tokens is exactly what [[mixtureWeights]] /
    * UniMax exist to correct; this measures it): groups ascending by
    * (weight, group), cumulative weight share, and the exact discrete
    * Gini G = 2·Σᵢ i·w₍ᵢ₎ / (n·Σw) − (n+1)/n.
    *
    * One map-side-combined group aggregation, then windows over the
    * BOUNDED group table (the ROC-collapse shape). All sums are exact
    * integers when the weight is integral (token counts), so the two
    * released ratios are single divisions — engine-portable. Returns one
    * row per group: (rank, group, weight, share, cum_share, gini — the
    * same scalar on every row for a one-scan read). */
  def giniConcentration(df: DataFrame, group: Column,
      weight: Column): DataFrame = {
    val byG = df.groupBy(group.as("grp"))
      .agg(sum(weight.cast("long")).as("w"))
    val wOrd = Window.orderBy(col("w"), col("grp"))
    val wAll = Window.orderBy(col("w"), col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("w"), col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byG
      .withColumn("rank", row_number().over(wOrd))
      .withColumn("__tot", sum("w").over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__cum", sum("w").over(wCum))
      .withColumn("__iw", sum(col("rank") * col("w")).over(wAll))
      .select(col("rank"), col("grp"), col("w"),
        round(col("w").cast("double") / col("__tot").cast("double"), 6)
          .as("share"),
        round(col("__cum").cast("double") / col("__tot").cast("double"), 6)
          .as("cum_share"),
        round(lit(2.0) * col("__iw").cast("double")
          / (col("__n").cast("double") * col("__tot").cast("double"))
          - (col("__n") + 1).cast("double") / col("__n").cast("double"), 6)
          .as("gini"))
      .orderBy("rank")
  }

  /** Kaplan–Meier survival estimator (Kaplan & Meier 1958,
    * "Nonparametric Estimation from Incomplete Observations") — the
    * right-censoring-aware retention curve: for user/source lifetimes
    * where some subjects simply haven't churned YET, the naive
    * fraction-alive curve is biased and KM is the standard fix.
    * Input: one row per subject with `duration` and `event` (true =
    * the terminal event happened; false = censored at that duration).
    *
    *  - d_t = events at time t,  c_t = censored at t,
    *  - n_t = subjects with duration ≥ t (at risk),
    *  - S(t) = Π_{t' ≤ t, d > 0} (1 − d/n).
    *
    * Scale shape: subjects collapse to ONE map-side-combined count per
    * DISTINCT duration; the at-risk and survival prefix computations are
    * windows over that bounded distinct-time table (the ROC-curve
    * collapse shape — never a window over raw subjects). The running
    * product rides exp(Σ ln(1 − d/n)) whose prefix sums are ORDERED
    * (frame-sequential in both engines), so 6-dp rounding replays.
    * Returns event times only (censored-only times don't move S). */
  def kaplanMeier(df: DataFrame, duration: Column,
      event: Column): DataFrame = {
    val base = df.select(duration.cast("double").as("t"),
      event.cast("boolean").as("e"))
    val byT = base.groupBy("t").agg(
      sum(when(col("e"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("e"), 1L).otherwise(0L)).as("c"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", sum(col("d") + col("c")).over(wAll)
        - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      // d == n_risk (everyone still at risk dies at t — necessarily the
      // last event time) is an explicit S = 0, NOT a log term: Spark's
      // ln(0) is null and DuckDB's errors, so the zero leaves the
      // product before it ever reaches a logarithm
      .withColumn("survival", round(
        when(max(when(col("d") === col("n_risk"), 1).otherwise(0))
          .over(wCum) === 1, lit(0.0))
          .otherwise(exp(sum(
            when(col("d") > 0 && col("d") < col("n_risk"),
              log(lit(1.0) - col("d").cast("double") / col("n_risk")))
              .otherwise(lit(0.0))).over(wCum))), 6))
      // Greenwood's variance (Greenwood 1926): v(t) = Σ d/(n(n−d)) over
      // prior event times (exhaustion rows excluded — their factor is
      // the explicit zero above); se = S·√v, plain-normal 95% band
      // clamped to [0, 1]. Computed from the ROUNDED survival so the
      // band replays exactly.
      .withColumn("__gw", sum(when(col("d") > 0 && col("d") < col("n_risk"),
        col("d").cast("double") / (col("n_risk").cast("double")
          * (col("n_risk") - col("d")).cast("double")))
        .otherwise(lit(0.0))).over(wCum))
      .withColumn("se", round(col("survival") * sqrt(col("__gw")), 6))
      .where(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d").as("n_events"),
        col("c").as("n_censored"), col("survival"), col("se"),
        round(greatest(lit(0.0),
          col("survival") - lit(1.96) * col("se")), 6).as("ci_lo"),
        round(least(lit(1.0),
          col("survival") + lit(1.96) * col("se")), 6).as("ci_hi"))
      .orderBy("t")
  }

  /** Restricted mean survival time (Royston & Parmar 2013; Uno et al.
    * 2014): RMST(τ) = ∫₀^τ S(t)dt over the [[kaplanMeier]] step curve —
    * "expected lifetime within the first τ" — the clinically-preferred
    * scalar when hazards aren't proportional (a hazard-ratio summary
    * assumes they are; the area under the curve never does). S starts
    * at 1 at t = 0, steps only at event times, and is truncated at τ
    * (the standard restriction makes the integral well-defined under
    * censoring). Integrates the 6-dp-ROUNDED survival values the KM
    * face reports, so the area replays exactly cross-engine. Returns
    * ONE row (tau, rmst, n_event_times_used).
    *
    * Scale shape: everything after [[kaplanMeier]]'s distinct-duration
    * collapse is a lag + scalar aggregate over the bounded event-time
    * table. */
  def rmst(df: DataFrame, duration: Column, event: Column,
      tau: Double): DataFrame = {
    require(tau > 0, s"tau must be > 0, got $tau")
    val km = kaplanMeier(df, duration, event)
      .select(col("t"), col("survival"))
      .where(col("t") <= tau)
    val w = Window.orderBy("t")
    // segment [t_prev, t_i) carries the PREVIOUS survival level
    // (S = 1 before the first event); the tail [t_last, tau] carries the
    // last level
    val segs = km
      .withColumn("__prev_t", coalesce(lag("t", 1).over(w), lit(0.0)))
      .withColumn("__prev_s", coalesce(lag("survival", 1).over(w), lit(1.0)))
      .withColumn("__last", row_number().over(
        Window.orderBy(col("t").desc)) === 1)
      .select(
        (col("__prev_s") * (col("t") - col("__prev_t"))).as("__area"),
        when(col("__last"), col("survival") * (lit(tau) - col("t")))
          .otherwise(lit(0.0)).as("__tail"))
    // an empty event-time table (no events before tau) means S ≡ 1 on
    // [0, τ] — the integral is τ, not null
    segs.agg(
        (sum("__area") + sum("__tail")).as("__rmst"),
        count(lit(1)).as("n_event_times_used"))
      .select(lit(tau).as("tau"),
        when(col("n_event_times_used") === 0, lit(tau))
          .otherwise(col("__rmst")).as("rmst"),
        col("n_event_times_used"))
  }

  /** Cumulative incidence under competing risks (Aalen–Johansen 1978;
    * the Kalbfleisch–Prentice CIF): when subjects can exit by SEVERAL
    * terminal causes (churned-by-error vs converted-by-purchase), the
    * per-cause "1 − KM" overstates risk — the proper estimator is
    *   CIF_k(t) = Σ_{tᵢ ≤ t} S(tᵢ⁻) · d_k(tᵢ)/n(tᵢ)
    * with S the ALL-cause Kaplan–Meier. Input: one row per subject with
    * `duration` and `cause` (a string; NULL = censored). Returns one row
    * per (cause, event time with d_k > 0): (t, cause, n_risk, d_cause,
    * cif), ordered. CIFs across causes sum to 1 − S(t) by construction.
    *
    * Scale shape: the [[kaplanMeier]] collapse twice over — one
    * (t, cause) cell aggregation, totals re-aggregated FROM the cells,
    * risk sets / S(t⁻) / per-cause cumulative sums as windows over the
    * bounded distinct-time (× cause) tables. S(t⁻) rides the same
    * 6-dp-rounded log-sum-exp convention as KM so the face replays. */
  def cumulativeIncidence(df: DataFrame, duration: Column,
      cause: Column): DataFrame = {
    val base = df.select(duration.cast("double").as("t"),
      cause.cast("string").as("c"))
    val cells = base.groupBy("t", "c").agg(count(lit(1)).as("cnt"))
    val byT = cells.groupBy("t").agg(
      sum(when(col("c").isNotNull, col("cnt")).otherwise(0L)).as("d"),
      sum(col("cnt")).as("all"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val totals = byT
      .withColumn("n_risk", sum("all").over(wAll)
        - coalesce(sum("all").over(wPrev), lit(0L)))
      // S(t⁻): the all-cause KM over STRICTLY EARLIER event times — the
      // same exhaustion-as-explicit-zero and log-sum conventions as
      // [[kaplanMeier]], rounded to 6 dp so downstream terms replay
      .withColumn("s_prev", round(
        when(coalesce(max(when(col("d") === col("n_risk"), 1)
            .otherwise(0)).over(wPrev), lit(0)) === 1, lit(0.0))
          .otherwise(exp(coalesce(sum(
            when(col("d") > 0 && col("d") < col("n_risk"),
              log(lit(1.0) - col("d").cast("double") / col("n_risk")))
              .otherwise(lit(0.0))).over(wPrev), lit(0.0)))), 6))
    val wCause = Window.partitionBy("c").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.where(col("c").isNotNull)
      .join(totals.select(col("t"), col("n_risk"), col("s_prev")), "t")
      .withColumn("__term",
        col("s_prev") * col("cnt").cast("double") / col("n_risk"))
      .withColumn("cif", sum("__term").over(wCause))
      .select(col("t"), col("c").as("cause"), col("n_risk"),
        col("cnt").as("d_cause"), col("cif"))
      .orderBy("cause", "t")
  }

  /** Two-group log-rank test (Mantel 1966; Peto & Peto 1972) — "do the
    * two survival curves differ?", the hypothesis test [[kaplanMeier]]
    * plots beg for. At each distinct event time: observed group-A
    * deaths vs the hypergeometric expectation d·nA/n, variance
    * d·(nA/n)·(nB/n)·(n−d)/(n−1); the statistic (ΣO−ΣE)²/ΣV is χ²₁.
    * Same ROC-collapse shape as KM: subjects collapse to per-(time,
    * group) counts in one aggregation, risk sets and the final sums are
    * windows over that bounded table. Returns one row:
    * (observed_a, expected_a, variance, chi2). */
  def logRank(df: DataFrame, duration: Column, event: Column,
      group: Column, groupA: String, groupB: String): DataFrame = {
    val base = df
      .where(group === groupA || group === groupB)
      .select(duration.cast("double").as("t"),
        event.cast("boolean").as("e"), (group === groupA).as("ga"))
    val byT = base.groupBy("t").agg(
      sum(when(col("ga") && col("e"), 1L).otherwise(0L)).as("d_a"),
      sum(when(!col("ga") && col("e"), 1L).otherwise(0L)).as("d_b"),
      sum(when(col("ga"), 1L).otherwise(0L)).as("tot_a"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("tot_b"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val risks = byT
      .withColumn("n_a", sum("tot_a").over(wAll)
        - coalesce(sum("tot_a").over(wPrev), lit(0L)))
      .withColumn("n_b", sum("tot_b").over(wAll)
        - coalesce(sum("tot_b").over(wPrev), lit(0L)))
      .withColumn("d", col("d_a") + col("d_b"))
      .withColumn("n", col("n_a") + col("n_b"))
      .where(col("d") > 0)
    val e = col("d").cast("double") * col("n_a") / col("n")
    val v = when(col("n") > 1,
      col("d").cast("double") * col("n_a") * col("n_b")
        * (col("n") - col("d"))
        / (col("n").cast("double") * col("n") * (col("n") - 1)))
      .otherwise(lit(0.0))
    risks.agg(
        sum(col("d_a")).as("observed_a"),
        sum(e).as("expected_a"), sum(v).as("variance"))
      .withColumn("chi2",
        (col("observed_a") - col("expected_a"))
          * (col("observed_a") - col("expected_a")) / col("variance"))
      .select(col("observed_a"), col("expected_a"), col("variance"),
        col("chi2"))
  }

  /** Nelson–Aalen cumulative hazard (Nelson 1972, Aalen 1978) — the
    * additive companion of [[kaplanMeier]]: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with
    * the Poisson-type variance Σ dᵢ/nᵢ², plus the Fleming–Harrington
    * survival exp(−H) (better than KM in small risk sets). Same scale
    * shape as KM: subjects collapse to the distinct-duration table in
    * one aggregation; every window after runs over that bounded table.
    * Unlike KM there is no log(0) hazard at exhaustion — dᵢ = nᵢ is an
    * ordinary term — so no special-casing is needed.
    */
  def nelsonAalen(df: DataFrame, duration: Column,
      event: Column): DataFrame = {
    val base = df.select(duration.cast("double").as("t"),
      event.cast("boolean").as("e"))
    val byT = base.groupBy("t").agg(
      sum(when(col("e"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("e"), 1L).otherwise(0L)).as("c"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", sum(col("d") + col("c")).over(wAll)
        - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("cum_hazard", round(sum(
        col("d").cast("double") / col("n_risk")).over(wCum), 6))
      .withColumn("se", round(sqrt(sum(
        col("d").cast("double") / (col("n_risk").cast("double")
          * col("n_risk").cast("double"))).over(wCum)), 6))
      // survival face from the ROUNDED hazard (the kaplanMeier se-from-
      // rounded-survival discipline) so the exp replays cross-engine
      .withColumn("survival_fh", round(exp(-col("cum_hazard")), 6))
      .where(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d").as("n_events"),
        col("c").as("n_censored"), col("cum_hazard"), col("se"),
        col("survival_fh"))
      .orderBy("t")
  }

  /** Fixed-width histogram with EXPLICIT bounds — the mergeable numeric
    * profile (unlike quantile bins, data-independent cells merge across
    * corpora, engines, and ingest batches; the complement of
    * [[fitQuantileBins]]): `bins` equal cells over [lo, hi), plus an
    * underflow cell (bin −1, x < lo) and an overflow cell (bin = bins,
    * x ≥ hi). Empty cells are emitted (a released histogram must have a
    * fixed shape), null values are not counted. One map-side-combined
    * groupBy + a broadcast (bins+2)-row spine left-join; bin edges are
    * single IEEE ops on the raw value, identical in any engine. */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 100000, s"histogram: bins $bins outside [1, 1e5]")
    require(lo < hi, s"histogram: need lo < hi, got [$lo, $hi]")
    val width = (hi - lo) / bins
    val v = value.cast("double")
    val idx = when(v < lo, lit(-1))
      .when(v >= hi, lit(bins))
      .otherwise(least(floor((v - lit(lo)) / lit(width)).cast("int"),
        lit(bins - 1)))
    val counts = df.where(v.isNotNull)
      .groupBy(idx.as("bin")).agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    val spine = spark.range(-1L, bins + 1L)
      .select(col("id").cast("int").as("bin"))
    spine.join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"),
        when(col("bin") >= 0, lit(lo) + col("bin") * lit(width)).as("bin_lo"),
        when(col("bin") < bins, lit(lo) + (col("bin") + 1) * lit(width))
          .as("bin_hi"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bin")
  }

  /** Ordered funnel conversion — the classic event-analytics funnel, here
    * the acquisition audit of a data-collection pipeline (how many
    * sources/users progress submit → validate → accept, and where they
    * stall): for each entity, step k counts only if it happens AT OR
    * AFTER the entity's step k−1 completion (earliest such event), and
    * the whole path must fit within `maxSpan` time units of the step-1
    * completion. Reports per-step entity counts + conversion vs step 1.
    *
    * Scale shape: NO window over raw events and no per-entity event
    * buffering — step k is one filtered min-aggregate of the events
    * joined to the (entity, t_{k−1}, deadline) frontier (id-keyed,
    * frontier ≤ one row per entity, broadcast when small). k−1 joins
    * total for a k-step funnel; events stream through each stage once. */
  def funnel(df: DataFrame, entity: Column, ts: Column, step: Column,
      steps: Seq[String], maxSpan: Double): DataFrame = {
    require(steps.size >= 2, "funnel: need at least 2 steps")
    require(steps.distinct.size == steps.size, "funnel: steps must be distinct")
    require(maxSpan > 0.0, "funnel: maxSpan must be > 0")
    val t = ts.cast("double")
    val spark = df.sparkSession
    import spark.implicits._
    val s0 = df.where(step === steps.head)
      .groupBy(entity.as("__e")).agg(min(t).as("__t"))
      .withColumn("__deadline", col("__t") + maxSpan)
    // each frontier is persisted before the next stage reads it, so the
    // raw events feed every stage exactly once (without it, stage k's
    // lineage would re-run stages 0..k−1 from the source)
    val frontiers = steps.tail.scanLeft(s0.persist()) { (prev, name) =>
      df.where(step === name)
        .select(entity.as("__e2"), t.as("__tc"))
        .join(prev, col("__e2") === col("__e"))
        .where(col("__tc") >= col("__t") && col("__tc") <= col("__deadline"))
        .groupBy(col("__e2").as("__e"))
        .agg(min(col("__tc")).as("__t"), first(col("__deadline")).as("__deadline"))
        .persist()
    }
    val counts = frontiers.map(f => f.agg(count(lit(1))).head().getLong(0))
    frontiers.foreach(_.unpersist(blocking = false))
    steps.indices.map { i =>
      (i, steps(i), counts(i),
        BigDecimal(if (counts.head == 0L) 0.0
          else counts(i).toDouble / counts.head)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("step_idx", "step", "n_entities", "conversion")
  }

  /** Word2vec-style unigram^(3/4) negative sampling (Mikolov et al.
    * 2013, "Distributed Representations of Words and Phrases"): k
    * deterministic negative tokens per anchor row, drawn from the
    * count^0.75-tempered distribution over the top-`vocabSize` corpus
    * vocabulary. The contrastive-pair factory for embedding training —
    * and fully replayable: draws come from [[IntHash.mix]](seed, id,
    * slot), never rand(), so retries, engines, and partitionings agree.
    *
    * Exactness across engines: the weight cnt^0.75 is computed as
    * sqrt(cnt·sqrt(cnt)) — two IEEE-754 *correctly-rounded* sqrts and
    * one multiply, bit-identical in any engine (pow/exp/ln are NOT
    * correctly rounded and may differ at the last ulp) — then quantized
    * to an integer grid, so the CDF, the modulus, and the bucket lookup
    * are pure integer arithmetic with zero boundary risk.
    *
    * Scale shape: the corpus collapses to the bounded top-V CDF (one
    * token-count aggregation; the collect is ≤ vocabSize rows — the
    * centroid-style bounded fit), then sampling is a pure per-row map:
    * hash → mod → O(V) lookup against the broadcast literal CDF, no
    * join, no shuffle. For V beyond ~10⁴ swap the linear `filter` scan
    * for a binary-search native expression; the CDF stays broadcast
    * either way. */
  def negativeSample(corpus: DataFrame, text: Column, anchors: DataFrame,
      id: Column, vocabSize: Int, k: Int, seed: Long,
      grid: Long = 1024L): DataFrame = {
    require(vocabSize >= 1 && vocabSize <= 65536,
      s"negativeSample: vocabSize $vocabSize outside [1, 65536]")
    require(k >= 1 && k <= 1024, s"negativeSample: k $k outside [1, 1024]")
    require(grid >= 1 && grid <= (1L << 20),
      s"negativeSample: grid $grid outside [1, 2^20]")
    val toks = corpus
      .select(explode(split(trim(text), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val wExact = sqrt(col("cnt").cast("double")
      * sqrt(col("cnt").cast("double")))
    val byW = Window.orderBy(col("cnt").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(vocabSize)
      .withColumn("w", round(wExact * lit(grid)).cast("long"))
      .withColumn("hi", sum("w").over(byW))
      .withColumn("lo", col("hi") - col("w"))
      .select("token", "lo", "hi")
      .orderBy("lo")
      .collect() // bounded: ≤ vocabSize rows (the fitted model)
    require(cdf.nonEmpty, "negativeSample: empty vocabulary")
    val total = cdf.last.getAs[Long]("hi")
    require(total > 0 && total < IntHash.M,
      s"negativeSample: CDF total $total outside (0, 2^31) — lower `grid` " +
        "(quantization granularity vs draw-range trade) or vocabSize, or " +
        "widen the draw to two chained hashes")
    val los = cdf.map(_.getAs[Long]("lo"))
    val tokens = cdf.map(_.getAs[String]("token"))
    anchors
      .select(id.as("id"))
      .withColumn("__slot", explode(sequence(lit(1), lit(k))))
      .withColumn("slot", col("__slot").cast("long"))
      .withColumn("__u", pmod(
        IntHash.mix(lit(seed), Seq(col("id"), col("slot"))), lit(total)))
      // index = #{lo ≤ u} (los ascending, u < total ⇒ 1-based index ≤ V):
      // native binary search (log V per draw, codegen'd); the
      // declarative filter-count twin is definitionally identical but
      // walks the interpreted lambda once per CDF entry per draw
      .withColumn("neg_token", element_at(typedLit(tokens),
        org.apache.spark.sql.graft.StatShim.cdfIndexCol(col("__u"), los)))
      .select(col("id"), col("slot"), col("neg_token"))
  }

  /** Distribution-free confidence interval for a quantile from order
    * statistics (the binomial/normal-approximation rank bracket —
    * Conover 1999 §3.2): the q-quantile estimate is the ⌈nq⌉-th order
    * statistic, the 95% CI is the pair of order statistics at ranks
    * nq ± z·√(nq(1−q)), clamped to [1, n]. No distributional assumption
    * — the error bar `g_grouped_quantiles`-style point estimates lack.
    *
    * Scale shape: ROC-collapse — rows collapse to the distinct-value
    * count table in one aggregation; the cumulative rank walk and the
    * three rank lookups run over that bounded table (for quantiles of
    * already-bounded-cardinality columns this is exact at any row
    * count; for continuous doubles at 100 TB, pre-round the value or
    * use the KLL fit path like `g_winsorize_sketch`). */
  def quantileCI(df: DataFrame, value: Column, q: Double,
      z: Double = 1.96): DataFrame = {
    require(q > 0.0 && q < 1.0, s"quantileCI: q $q outside (0, 1)")
    require(z > 0.0, "quantileCI: z must be > 0")
    val byV = df.where(value.isNotNull)
      .groupBy(value.cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = byV
      .withColumn("__cum", sum("__c").over(wCum))
      .withColumn("__n", sum("__c").over(wAll))
    val nq = col("__n") * lit(q)
    val half = lit(z) * sqrt(col("__n") * lit(q) * lit(1.0 - q))
    val rMid = ceil(nq).cast("long")
    val rLo = greatest(lit(1L), floor(nq - half).cast("long"))
    val rHi = least(col("__n"), ceil(nq + half).cast("long"))
    // value at rank r = min distinct value whose cumulative count ≥ r
    ranked.agg(
      max(col("__n")).as("n"),
      max(rLo).as("rank_lo"), max(rMid).as("rank_mid"),
      max(rHi).as("rank_hi"),
      min(when(col("__cum") >= rLo, col("__v"))).as("ci_lo"),
      min(when(col("__cum") >= rMid, col("__v"))).as("estimate"),
      min(when(col("__cum") >= rHi, col("__v"))).as("ci_hi"))
      .withColumn("q", lit(q))
      .select(col("q"), col("n"), col("rank_lo"), col("rank_mid"),
        col("rank_hi"), col("ci_lo"), col("estimate"), col("ci_hi"))
  }

  /** One-way fixed-effects ANOVA F (Fisher 1925): does the metric mean
    * differ across k groups? ONE moment aggregation per group (n, Σy,
    * Σy²), then pure algebra over the bounded group table — the
    * multi-arm generalization of the Welch/t readouts.
    * Returns one row: (k, n, ss_between, ss_within, df_between,
    * df_within, f_stat). */
  def anovaF(df: DataFrame, group: Column, y: Column): DataFrame = {
    val yd = y.cast("double")
    val byG = df.where(yd.isNotNull)
      .groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n_g"), sum(yd).as("s_g"),
        sum(yd * yd).as("ss_g"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byG
      .withColumn("__N", sum("n_g").over(wAll))
      .withColumn("__k", count(lit(1)).over(wAll))
      .withColumn("__grand", sum("s_g").over(wAll) / col("__N"))
      .withColumn("__mb", (col("s_g") / col("n_g") - col("__grand")))
      .agg(
        max(col("__k")).as("k"), max(col("__N")).as("n"),
        sum(col("n_g") * col("__mb") * col("__mb")).as("ss_between"),
        sum(col("ss_g") - col("s_g") * col("s_g") / col("n_g"))
          .as("ss_within"))
      .withColumn("df_between", col("k") - 1)
      .withColumn("df_within", col("n") - col("k"))
      .withColumn("f_stat", when(col("df_between") > 0
          && col("df_within") > 0 && col("ss_within") > 0,
        (col("ss_between") / col("df_between"))
          / (col("ss_within") / col("df_within"))))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        col("df_between"), col("df_within"), col("f_stat"))
  }

  /** Cochran–Armitage trend test (Cochran 1954; Armitage 1955): is a
    * binary outcome rate MONOTONE in an ordered dose? T = Σsᵢxᵢ −
    * p̄Σsᵢnᵢ, Var = p̄(1−p̄)(Σsᵢ²nᵢ − (Σsᵢnᵢ)²/N), z = T/√Var — and
    * because every term is a plain row-level sum, the whole test is ONE
    * fused aggregation over the raw rows (no per-dose grouping needed).
    * Returns one row: (n, n_pos, z, t_num, variance). */
  def cochranArmitage(df: DataFrame, dose: Column, outcome: Column)
      : DataFrame = {
    val sC = dose.cast("double")
    val yC = outcome.cast("double")
    val base = df.where(sC.isNotNull && yC.isNotNull)
    base.agg(
        count(lit(1)).as("n"),
        sum(yC).as("__x"), sum(sC).as("__s"),
        sum(sC * sC).as("__s2"), sum(sC * yC).as("__sy"))
      .withColumn("__p", col("__x") / col("n"))
      .withColumn("t_num", col("__sy") - col("__p") * col("__s"))
      .withColumn("variance", col("__p") * (lit(1.0) - col("__p"))
        * (col("__s2") - col("__s") * col("__s") / col("n")))
      .withColumn("z", when(col("variance") > 0,
        col("t_num") / sqrt(col("variance"))))
      .select(col("n"), col("__x").cast("long").as("n_pos"),
        col("z"), col("t_num"), col("variance"))
  }

  /** Weighted quantiles (the token-weighted median/percentile a mixture
    * decision actually needs: "the median DOCUMENT length" and "the
    * median TOKEN's document length" differ wildly on skewed corpora):
    * for each q, the smallest value whose cumulative weight share
    * reaches q — the weighted `percentile_disc` convention (exact data
    * value, no interpolation, so ties and engines can't disagree).
    * Null values/weights and non-positive weights are ignored. Returns
    * (q, value, cum_weight, total_weight), q-ordered.
    *
    * Scale shape: the ROC collapse — one map-side-combined groupBy
    * folds rows to (distinct value, Σweight), the cumulative window
    * runs over the distinct-value table, and each requested q is one
    * filtered min over it. */
  def weightedQuantiles(df: DataFrame, value: Column, weight: Column,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val v = value.cast("double")
    val w = weight.cast("double")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.where(v.isNotNull && w.isNotNull && w > 0)
      .groupBy(v.as("__v")).agg(sum(w).as("__w"))
    val wCum = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cum = cells
      .withColumn("__cw", sum("__w").over(wCum))
      .withColumn("__tw", sum("__w").over(wAll))
    val qdf = qs.sorted.toDF("q")
    qdf.join(cum, col("__cw") >= col("q") * col("__tw"))
      .groupBy("q")
      .agg(min(struct(col("__v"), col("__cw"), col("__tw"))).as("__s"))
      .select(col("q"), col("__s.__v").as("value"),
        col("__s.__cw").as("cum_weight"), col("__s.__tw").as("total_weight"))
      .orderBy("q")
  }

  /** TOST equivalence test (Schuirmann 1987, two one-sided tests) — the
    * "prove it DIDN'T change" gate: groups a and b are equivalent at
    * margin ±δ when BOTH z_lower = (Δ + δ)/SE and z_upper = (δ − Δ)/SE
    * clear the one-sided critical value (1.645 at α = 0.05). The
    * mirror-image of [[welchTTest]] — failing to reject H₀ there is NOT
    * evidence of no effect; this is. Returns ONE row
    * (n_a, n_b, mean_diff, se, z_lower, z_upper, equivalent) with the
    * verdict at zCrit on UNROUNDED statistics (the dq lesson). ONE
    * fused moment aggregation. */
  def tost(df: DataFrame, value: Column, group: Column, a: String,
      b: String, margin: Double, zCrit: Double = 1.6448536269514722)
      : DataFrame = {
    require(margin > 0, s"margin must be > 0, got $margin")
    val v = value.cast("double")
    df.where(v.isNotNull && group.isin(a, b))
      .agg(
        count(when(group === a, lit(1))).as("n_a"),
        count(when(group === b, lit(1))).as("n_b"),
        avg(when(group === a, v)).as("__ma"),
        avg(when(group === b, v)).as("__mb"),
        var_samp(when(group === a, v)).as("__va"),
        var_samp(when(group === b, v)).as("__vb"))
      .withColumn("mean_diff", col("__ma") - col("__mb"))
      .withColumn("se",
        sqrt(col("__va") / col("n_a") + col("__vb") / col("n_b")))
      .withColumn("z_lower",
        when(col("se") > 0, (col("mean_diff") + margin) / col("se")))
      .withColumn("z_upper",
        when(col("se") > 0, (lit(margin) - col("mean_diff")) / col("se")))
      .select(col("n_a"), col("n_b"), col("mean_diff"), col("se"),
        col("z_lower"), col("z_upper"),
        (col("z_lower") > zCrit && col("z_upper") > zCrit).as("equivalent"))
  }

  /** RFM segmentation (Hughes 1994 — the classic CRM slicing, and the
    * standard engagement prior for per-user corpus weighting): per
    * entity, Recency = hours from its last event to the corpus's last
    * event, Frequency = event count, Monetary = Σ value; each scored
    * 1..q by `ntile(q)` with the GOOD end high (recent ⇒ r=q, frequent
    * ⇒ f=q, big-spend ⇒ m=q). The ntile orders carry an entity
    * tie-break, so equal-valued entities land in deterministic buckets
    * in any engine. `t` is the canonical epoch-µs long. Returns
    * (entity, recency_h, frequency, monetary, r, f, m, rfm).
    *
    * Scale shape: ONE map-side-combined per-entity aggregation; the
    * three ntiles are windows over the per-entity table (entity-sized,
    * not event-sized). A global sort per ntile is the honest cost of
    * exact quantile buckets — at 100 TB swap ntile for fitted
    * `quantileBins` bounds if the entity table itself outgrows a sort. */
  def rfm(df: DataFrame, entity: Column, t: Column, value: Column,
      q: Int = 5): DataFrame = {
    require(q >= 2, s"q must be >= 2, got $q")
    val per = df.where(t.isNotNull)
      .groupBy(entity.as("entity"))
      .agg(max(t).as("__last"), count(lit(1)).as("frequency"),
        coalesce(sum(value), lit(0.0)).as("monetary"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("recency_h",
        ((max("__last").over(wAll) - col("__last")) / lit(3600000000L))
          .cast("long"))
      .withColumn("r", ntile(q).over(
        Window.orderBy(col("recency_h").desc, col("entity"))))
      .withColumn("f", ntile(q).over(
        Window.orderBy(col("frequency").asc, col("entity"))))
      .withColumn("m", ntile(q).over(
        Window.orderBy(col("monetary").asc, col("entity"))))
      .select(col("entity"), col("recency_h"), col("frequency"),
        col("monetary"), col("r"), col("f"), col("m"),
        concat(col("r"), col("f"), col("m")).as("rfm"))
  }

  /** Per-group Poisson event rates with the normal-approximation 95%
    * band: rate = n/exposure, CI = (n ± 1.96·√n)/exposure, floored at 0
    * — the "is the error rate per hour actually up?" readout for ingest
    * monitoring. Exposure is the shared observation span in hours
    * (global max − min of the canonical epoch-µs `t`), identical for
    * every group, so rates are directly comparable. A DEGENERATE span
    * (all events on one timestamp, or a single event — exposure 0)
    * yields NULL rate/CI faces rather than Infinity: a rate over zero
    * observed time is undefined, and the null face is the repo's
    * convention for undefined statistics (cf. abConversion/olsPerGroup).
    * ONE grouped aggregation + a broadcast one-row span. */
  def poissonRates(df: DataFrame, group: Column, t: Column): DataFrame = {
    val span = df.where(t.isNotNull)
      .agg(((max(t) - min(t)) / lit(3600000000.0)).as("exposure_h"))
    val pos = col("exposure_h") > 0
    df.where(t.isNotNull)
      .groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(span))
      .withColumn("rate_per_h", when(pos, col("n") / col("exposure_h")))
      .withColumn("ci_lo", when(pos, greatest(lit(0.0),
        (col("n") - lit(1.96) * sqrt(col("n"))) / col("exposure_h"))))
      .withColumn("ci_hi", when(pos,
        (col("n") + lit(1.96) * sqrt(col("n"))) / col("exposure_h")))
      .select(col("grp"), col("n"), col("exposure_h"), col("rate_per_h"),
        col("ci_lo"), col("ci_hi"))
  }
}

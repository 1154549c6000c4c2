package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint suite — the Deequ-style
  * (Schelter et al. 2018, "Automating Large-Scale Data Quality
  * Verification", VLDB) contract gate a 100 TB ingest runs BEFORE the
  * corpus enters curation: completeness, uniqueness, ranges, domains,
  * patterns, and referential integrity, each as a declared rule with a
  * measured metric and a pass/fail verdict.
  *
  * Scale shape: every row-local rule (completeness, range, domain,
  * pattern, row count) FUSES into ONE map-side-combined aggregation
  * pass over the table — adding rules adds columns, not scans.
  * [[Rule.Unique]] adds exact `count(distinct struct)` inside the same
  * aggregation (the documented 100 TB swap is `approx_count_distinct`);
  * each [[Rule.RefIntegrity]] adds one left-anti-join count against its
  * dimension (broadcast when small). The report is |rules| rows.
  */
object DataQuality {

  sealed trait Rule {
    /** Stable report key: `kind(column…)`. */
    def name: String
  }
  object Rule {
    /** Fraction of non-null values must be ≥ `minFrac` (1.0 = NOT NULL). */
    final case class NotNull(column: String, minFrac: Double = 1.0) extends Rule {
      require(minFrac >= 0 && minFrac <= 1, "minFrac in [0,1]")
      def name = s"not_null($column)"
    }
    /** The column tuple must be globally unique. */
    final case class Unique(columns: Seq[String]) extends Rule {
      require(columns.nonEmpty, "Unique needs columns")
      def name = s"unique(${columns.mkString(",")})"
    }
    /** Fraction of non-null values inside [lo, hi] must be ≥ `minFrac`. */
    final case class InRange(column: String, lo: Double, hi: Double,
        minFrac: Double = 1.0) extends Rule {
      require(lo <= hi, "lo <= hi")
      def name = s"in_range($column)"
    }
    /** Fraction of non-null values in `values` must be ≥ `minFrac`. */
    final case class InSet(column: String, values: Seq[String],
        minFrac: Double = 1.0) extends Rule {
      require(values.nonEmpty, "InSet needs values")
      def name = s"in_set($column)"
    }
    /** Fraction of non-null values matching `regex` must be ≥ `minFrac`. */
    final case class MatchesRegex(column: String, regex: String,
        minFrac: Double = 1.0) extends Rule {
      def name = s"matches_regex($column)"
    }
    /** Row count within [lo, hi]. */
    final case class RowCountBetween(lo: Long, hi: Long) extends Rule {
      require(lo <= hi, "lo <= hi")
      def name = "row_count"
    }
    /** Every non-null value must exist in `dimColumn` of `dim` (FK
      * coverage); metric = fraction of rows with a match. */
    final case class RefIntegrity(column: String, dim: DataFrame,
        dimColumn: String) extends Rule {
      def name = s"ref_integrity($column)"
    }
  }
  import Rule._

  /** Run the rule suite; returns one row per rule:
    * (rule, metric, threshold, pass). Metrics are fractions (or the raw
    * row count for [[Rule.RowCountBetween]]), rounded to 6 dp —
    * fractions of exact integer counts, engine-portable.
    *
    * The PASS verdict never looks at the rounded metric: it compares the
    * EXACT integer counts (numerator == base for threshold-1.0 rules,
    * unrounded fraction otherwise). Above ~2 M rows a violation rate
    * under 5e-7 rounds to `1.000000`, so a verdict on the rounded face
    * would silently wave real duplicates/nulls through — the one failure
    * mode a 100 TB contract gate can't have (at 50 M rows, ~25 duplicate
    * keys would have passed `unique()`). */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "check: need at least one rule")
    require(rules.map(_.name).distinct.size == rules.size,
      s"check: duplicate rule names — add distinguishing columns")
    val spark = df.sparkSession
    import spark.implicits._

    val n = count(lit(1))
    // one fused aggregation: (numerator, base) EXACT counts per rule
    val fused: Seq[(Rule, Column, Column)] = rules.collect {
      case r @ NotNull(c, _) =>
        (r, count(col(c)), n)
      case r @ Unique(cols) =>
        // struct() is never null, so countDistinct covers every row:
        // metric = distinct tuples / rows, 1.0 ⇔ unique
        (r, countDistinct(struct(cols.map(col): _*)), n)
      case r @ InRange(c, lo, hi, _) =>
        (r, coalesce(sum(when(col(c).isNotNull &&
            col(c).cast("double").between(lo, hi), 1L).otherwise(0L)), lit(0L)),
          count(col(c)))
      case r @ InSet(c, vs, _) =>
        (r, coalesce(sum(when(col(c).isin(vs: _*), 1L).otherwise(0L)), lit(0L)),
          count(col(c)))
      case r @ MatchesRegex(c, re, _) =>
        (r, coalesce(sum(when(col(c).rlike(re), 1L).otherwise(0L)), lit(0L)),
          count(col(c)))
      case r @ RowCountBetween(_, _) =>
        (r, n, n)
    }
    // each RefIntegrity's base count (non-null FK values) rides the SAME
    // fused aggregation as the row-local rules (r12) — the separate
    // df.where(fk).count() was a full extra corpus pass per FK rule
    val refRules = rules.collect { case r: RefIntegrity => r }
    val fusedAggs = fused.flatMap { case (r, num, base) =>
      Seq(num.as(r.name + "\u0000num"), base.as(r.name + "\u0000base")) } ++
      refRules.map(r => count(col(r.column)).as(r.name + "\u0000total"))
    val row = df.agg(fusedAggs.head, fusedAggs.tail: _*).head()
    val counts: Map[String, (Long, Long)] =
      fused.map { case (r, _, _) => r.name ->
        (row.getAs[Long](r.name + "\u0000num"),
          row.getAs[Long](r.name + "\u0000base")) }.toMap
    // referential-integrity rules: one anti-join count each. r13: the
    // fact side pre-aggregates to (distinct fk, multiplicity) before the
    // anti-join - map-side combined, so when the dim side is too big to
    // broadcast the join shuffles |distinct fact keys| rows instead of
    // |fact rows| (4x fewer on lineitem->orders; at 100 TB the gap is the
    // fact/dim cardinality ratio). Sum of multiplicity over missing keys
    // == the row-level anti count, exactly. Locally neutral (0.42 s both
    // shapes at sf0.1, OPTIMIZATION_r13.md item 6), kept on the scale
    // argument.
    val refCounts: Map[String, (Long, Long)] = refRules.map {
      case r @ RefIntegrity(c, dim, dc) =>
        val total = row.getAs[Long](r.name + "\u0000total")
        val misses =
          if (total == 0) 0L
          else df.select(col(c)).where(col(c).isNotNull)
            .groupBy(col(c)).agg(count(lit(1)).as("__m"))
            .join(dim.select(col(dc).as(c)).distinct(), Seq(c), "left_anti")
            .agg(coalesce(sum("__m"), lit(0L))).head().getLong(0)
        r.name -> (total - misses, total)
    }.toMap
    val all = counts ++ refCounts
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rules.map { r =>
      val (num, base) = all(r.name)
      // reported metric: 6-dp fraction (or the raw count for row_count)
      val m = r match {
        case RowCountBetween(_, _) => num.toDouble
        case _ => if (base == 0) 1.0 else r6(num.toDouble / base)
      }
      // verdict: exact integers (f == 1.0) or the UNROUNDED fraction
      def fracPass(f: Double): Boolean =
        if (f >= 1.0) num == base
        else base == 0 || num.toDouble / base >= f
      val (threshold, pass) = r match {
        case NotNull(_, f) => (f, fracPass(f))
        case Unique(_) => (1.0, num == base)
        case InRange(_, _, _, f) => (f, fracPass(f))
        case InSet(_, _, f) => (f, fracPass(f))
        case MatchesRegex(_, _, f) => (f, fracPass(f))
        case RowCountBetween(lo, hi) => (lo.toDouble, num >= lo && num <= hi)
        case RefIntegrity(_, _, _) => (1.0, num == base)
      }
      (r.name, m, threshold, pass)
    }.toDF("rule", "metric", "threshold", "pass")
  }

  /** Benford first-digit conformance (Benford 1938; Nigrini's fraud/
    * fabrication screen): distribution of the leading significant digit
    * of a positive amount column vs the log₁₀(1 + 1/d) law, with the
    * per-digit chi-square contributions and the total statistic
    * (dof = 8). Synthetic or copy-pasted numeric columns flunk this
    * loudly — a cheap fabricated-data detector for ingested tables.
    *
    * The digit is extracted integer-exactly, not via float log₁₀ (whose
    * last-ulp disagreement across libm implementations could flip the
    * digit at exact powers of ten): the value is scaled to an integer by
    * `scale` decimal places, rounded, and the first character of its
    * decimal rendering is the digit — identical in any engine. ONE
    * aggregation over the rows; the chi-square runs on the 9-row digit
    * spine (zero-count digits included — the shape is fixed).
    * Amounts with |amount|·10^scale beyond the exact-long range FAIL
    * LOUDLY (raise_error): Spark's double→long cast would silently
    * saturate (pinning the digit to 9) where DuckDB's CAST raises —
    * the same silent-vs-loud divergence the split/attribution guards
    * close. Pass a smaller `scale` for such columns (the leading digit
    * does not depend on it).
    */
  def benford(df: DataFrame, amount: Column, scale: Int = 2): DataFrame = {
    require(scale >= 0 && scale <= 9, s"benford: scale $scale outside [0, 9]")
    val spark = df.sparkSession
    val mult = math.pow(10.0, scale)
    // largest double strictly below Long.MaxValue; >= comparison catches
    // every value whose round would saturate the long cast — Infinity
    // included (it compares greater). NaN never reaches this guard: the
    // filter below excludes it explicitly, because Spark orders NaN
    // ABOVE every number so `amount > 0` alone would admit it and the
    // overflow error would mis-diagnose a not-a-number as "too large".
    val guarded = when(abs(amount * mult) < lit(9.223372036854775e18),
        round(amount * mult))
      .otherwise(raise_error(concat(
        lit(s"benford: |amount| * 1e$scale exceeds the exact long " +
          "range on value "), amount.cast("string"),
        lit(" — use a smaller scale (or drop non-finite amounts)"))))
    val digit = substring(
      guarded.cast("long").cast("string"), 1, 1).cast("int")
    val obs = df.where(amount > 0 && !isnan(amount))
      .select(digit.as("digit"))
      .where(col("digit") >= 1) // amount*mult rounding to 0 ⇒ no digit
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val spine = spark.createDataFrame((1 to 9).map(d =>
      (d, math.log10(1.0 + 1.0 / d)))).toDF("digit", "p_exp")
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    spine.join(obs, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .withColumn("__n", sum(col("n_obs")).over(wAll))
      .withColumn("share", col("n_obs") / col("__n"))
      .withColumn("__e", col("__n") * col("p_exp"))
      .withColumn("contrib",
        (col("n_obs") - col("__e")) * (col("n_obs") - col("__e")) / col("__e"))
      .withColumn("chi2", sum(col("contrib")).over(wAll))
      .select(col("digit"), col("n_obs"), col("p_exp"), col("share"),
        col("contrib"), col("chi2"))
  }

  /** Snapshot-to-snapshot profile drift gate: [[graft.ops.Stats.profileTable]]
    * on both sides (ONE fused aggregation per snapshot), joined per
    * column, with verdicts on the null-fraction shift, the relative mean
    * shift, and the relative distinct-count shift. Verdicts compare
    * UNROUNDED values (the dq_constraints lesson: a rounded fraction
    * silently passes real drift at scale); the reported columns are for
    * humans. A column that is all-null on either side fails `mean_ok`
    * only if the other side has a mean (appearing/disappearing data IS
    * drift). `exact` controls the distinct counter: the DEFAULT is the
    * HLL sketch (`approx_count_distinct`) — the 100 M-row probe measured
    * 382.8 s exact vs 36.6 s approx, and a 20% distinct-shift gate is
    * far coarser than HLL's ~2% error, so the sketch is the right
    * default at any real scale; pass `exact = true` only for
    * oracle/debug runs that need the precise count. Returns one row per
    * column:
    * (col_name, n_a, n_b, null_frac_a, null_frac_b, mean_a, mean_b,
    * mean_rel_delta, distinct_a, distinct_b, null_ok, mean_ok,
    * distinct_ok, ok). */
  def profileCompare(a: DataFrame, b: DataFrame, cols: Seq[String],
      nullFracTol: Double = 0.01, meanRelTol: Double = 0.05,
      distinctRelTol: Double = 0.20, exact: Boolean = false): DataFrame = {
    val pa = graft.ops.Stats.profileTable(a, cols, exact)
    val pb = graft.ops.Stats.profileTable(b, cols, exact)
    compareProfiles(pa, pb, nullFracTol, meanRelTol, distinctRelTol)
  }

  /** [[profileCompare]] for two SLICES of the same frame — the common
    * "this snapshot vs its filtered subset / yesterday's partition"
    * shape, where running [[graft.ops.Stats.profileTable]] twice pays
    * two full scans (and, under `exact`, two countDistinct Expands) for
    * data that shares one source. Both profiles here come from ONE
    * conditional aggregation pass: per column and slice,
    * `count(when(slice, …))` / `countDistinct(when(slice, c))` /
    * `min/max/avg(when(slice, c))` — the same value sets the two
    * separate scans would aggregate, so counts are identical integers
    * and moments identical up to summation order (the verdict
    * tolerances dwarf that). Slice predicates may overlap (a row can
    * belong to both sides); a null predicate row belongs to neither,
    * exactly as a `where` would drop it. */
  def profileCompareSlices(df: DataFrame, sliceA: Column, sliceB: Column,
      cols: Seq[String], nullFracTol: Double = 0.01,
      meanRelTol: Double = 0.05, distinctRelTol: Double = 0.20,
      exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    val nd: Column => Column =
      if (exact) countDistinct(_) else c => approx_count_distinct(c)
    def tryD(c: Column): Column =
      c.try_cast(org.apache.spark.sql.types.DoubleType)
    def side(tag: String, slice: Column): Seq[Column] =
      count(when(slice, lit(1))).as(s"__n_$tag") +: cols.flatMap(c => Seq(
        count(when(slice && col(c).isNull, lit(1))).as(s"${c}__nulls_$tag"),
        nd(when(slice, col(c))).as(s"${c}__distinct_$tag"),
        avg(tryD(when(slice, col(c)))).as(s"${c}__mean_$tag")))
    val aggs = side("a", sliceA) ++ side("b", sliceB)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    def profile(tag: String): DataFrame = {
      val n = r.getAs[Long](s"__n_$tag")
      def optD(name: String): Option[Double] =
        Option(r.getAs[java.lang.Double](s"${name}_$tag")).map(_.toDouble)
      cols.map(c => (c, n, Option(r.getAs[Long](s"${c}__nulls_$tag")),
          Option(r.getAs[Long](s"${c}__distinct_$tag")),
          optD(s"${c}__mean")))
        .toDF("col_name", "n_rows", "n_nulls", "n_distinct", "mean_v")
    }
    compareProfiles(profile("a"), profile("b"),
      nullFracTol, meanRelTol, distinctRelTol)
  }

  /** The shared verdict block of [[profileCompare]] /
    * [[profileCompareSlices]]: join the two per-column profile tables
    * and gate on null-fraction / relative-mean / relative-distinct
    * shifts (UNROUNDED — the dq_constraints lesson). */
  private def compareProfiles(profA: DataFrame, profB: DataFrame,
      nullFracTol: Double, meanRelTol: Double,
      distinctRelTol: Double): DataFrame = {
    val pa = profA
      .select(col("col_name"), col("n_rows").as("n_a"),
        col("n_nulls").as("__nulls_a"), col("n_distinct").as("distinct_a"),
        col("mean_v").as("mean_a"))
    val pb = profB
      .select(col("col_name"), col("n_rows").as("n_b"),
        col("n_nulls").as("__nulls_b"), col("n_distinct").as("distinct_b"),
        col("mean_v").as("mean_b"))
    val nfa = col("__nulls_a").cast("double") / col("n_a")
    val nfb = col("__nulls_b").cast("double") / col("n_b")
    val meanDelta = when(col("mean_a").isNotNull && col("mean_b").isNotNull,
      when(abs(col("mean_a")) > 0,
        abs(col("mean_b") - col("mean_a")) / abs(col("mean_a")))
        .otherwise(abs(col("mean_b") - col("mean_a"))))
    val distDelta = abs(col("distinct_b") - col("distinct_a"))
      .cast("double") / greatest(col("distinct_a"), lit(1L))
    pa.join(pb, Seq("col_name"))
      .withColumn("null_frac_a", nfa)
      .withColumn("null_frac_b", nfb)
      .withColumn("mean_rel_delta", meanDelta)
      .withColumn("null_ok", abs(nfb - nfa) <= nullFracTol)
      .withColumn("mean_ok",
        when(col("mean_a").isNull && col("mean_b").isNull, lit(true))
          .when(col("mean_a").isNull || col("mean_b").isNull, lit(false))
          .otherwise(col("mean_rel_delta") <= meanRelTol))
      .withColumn("distinct_ok", distDelta <= distinctRelTol)
      .select(col("col_name"), col("n_a"), col("n_b"),
        col("null_frac_a"), col("null_frac_b"), col("mean_a"),
        col("mean_b"), col("mean_rel_delta"), col("distinct_a"),
        col("distinct_b"), col("null_ok"), col("mean_ok"),
        col("distinct_ok"),
        (col("null_ok") && col("mean_ok") && col("distinct_ok")).as("ok"))
      .orderBy("col_name")
  }
}

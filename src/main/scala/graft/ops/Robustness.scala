package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** R1–R4 — seeded synthetic degradations of window tensors, and the
  * hash-based RNG expression that makes them reproducible on a cluster.
  *
  * Ref: `degrade_sequences`, func_aux/func_test.py:535-579. The reference
  * draws from a NumPy generator whose stream order depends on array layout;
  * bit-parity is impossible on a distributed engine (SURVEY §4.2), so the
  * spec here is DISTRIBUTIONAL equivalence + determinism under our own
  * seeding: every random draw is `hash(seed, window_id, timestep, feature)`
  * mapped to U(0,1) — independent of partitioning, task retries, and
  * cluster size, which is exactly what a 1000-executor run needs.
  *
  * The hash is [[IntHash]]'s keyed 31-bit mix rather than xxhash64: every
  * intermediate stays under 2^62, so the SAME integer arithmetic is
  * exactly reproducible in any engine with 64-bit integers — that is what
  * lets the r1–r5 queries carry a DuckDB oracle instead of a rows-only
  * check. 31 bits of uniform resolution is far more than the Bernoulli
  * masks / shifts / Box–Muller draws here can surface.
  *
  * All four degradations are pure array expressions (`transform` over the
  * `array<array<double>>` window column) — no shuffle, no UDF, fully
  * codegen-capable, embarrassingly parallel.
  */
object Robustness {

  /** Salt key appended for the second Box–Muller stream. */
  val U2Salt: Long = 785643211L

  /** Deterministic per-coordinate uniform in [0,1): keyed LCG mix of the
    * key columns + seed, scaled from the 31-bit range. */
  def seededUniform(seed: Long, keys: Column*): Column =
    seededUniformC(lit(seed), keys: _*)

  /** Column-seeded uniform — the seed itself a column, for plans that
    * sweep (severity, seed) grids in one pass. */
  def seededUniformC(seed: Column, keys: Column*): Column =
    IntHash.mix(seed, keys).cast("double") / lit(IntHash.M.toDouble)

  /** Box–Muller standard normal from two hash-uniforms (distinct salts),
    * the seed a column. */
  def seededNormalC(seed: Column, keys: Column*): Column = {
    val u1 = greatest(seededUniformC(seed, keys: _*), lit(1e-12)) // avoid log(0)
    // second independent stream via an extra salt key (no seed arithmetic
    // — adding large constants to a seed column would overflow under ANSI)
    val u2 = seededUniformC(seed, (keys :+ lit(U2Salt)): _*)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  /** DuckDB SQL twin of [[seededUniformC]]: identical integer arithmetic,
    * for oracle queries. `seed`/`keys` are SQL expressions that must be
    * non-negative integers (keys are reduced mod M like the Column form). */
  def seededUniformSql(seed: String, keys: Seq[String]): String =
    s"(${IntHash.mixSql(seed, keys)} / ${IntHash.M}.0)"

  /** DuckDB SQL twin of [[seededNormalC]]. */
  def seededNormalSql(seed: String, keys: Seq[String]): String = {
    val u1 = s"greatest(${seededUniformSql(seed, keys)}, 1e-12)"
    val u2 = seededUniformSql(seed, keys :+ U2Salt.toString)
    s"(sqrt(-2.0 * ln($u1)) * cos(2 * pi() * $u2))"
  }

  /** R1 packet_loss — zero ALL features at a Bernoulli(severity) subset of
    * timesteps (mask per (window, t)). func_test.py:548-552. */
  def packetLoss(window: Column, winId: Column, severity: Double, seed: Long): Column =
    if (severity <= 0) window
    else packetLoss(window, winId, lit(severity), lit(seed))

  /** R1 with column-parameterized severity/seed (single-plan sweeps). */
  def packetLoss(window: Column, winId: Column, severity: Column, seed: Column): Column =
    when(severity <= 0, window).otherwise(
      transform(window, (row, i) =>
        when(seededUniformC(seed, winId, i) < severity,
          transform(row, _ => lit(0.0))).otherwise(row)))

  /** R2 missing_variables — zero a Bernoulli(severity) subset of FEATURES
    * across the whole window (mask per (window, f)). func_test.py:554-558. */
  def missingVariables(window: Column, winId: Column, severity: Double, seed: Long): Column =
    if (severity <= 0) window
    else missingVariables(window, winId, lit(severity), lit(seed))

  /** R2, column-parameterized.
    *
    * The Bernoulli draw depends only on (window, feature), so the F draws
    * are hoisted into one per-window mask array and bound as a LAMBDA
    * VARIABLE via a single-element outer `transform` — a captured
    * expression inside a HOF lambda is re-evaluated per element (T·F hash
    * evaluations), a lambda variable is not (F evaluations). */
  def missingVariables(window: Column, winId: Column, severity: Column, seed: Column): Column =
    when(severity <= 0, window).otherwise {
      val nF = size(element_at(window, 1))
      val mask = transform(sequence(lit(0), nF - 1),
        j => seededUniformC(seed, winId, j) < severity)
      element_at(
        transform(array(mask), m =>
          transform(window, row =>
            zip_with(row, m, (x, drop) => when(drop, lit(0.0)).otherwise(x)))),
        1)
    }

  /** R3 clock_offset — circular roll of the window's time axis by a
    * per-window uniform integer shift in [−⌊sev·T⌋, ⌊sev·T⌋].
    * func_test.py:560-566. np.roll(shift=s): out[i] = in[(i − s) mod T]. */
  def clockOffset(window: Column, winId: Column, severity: Double, seed: Long): Column =
    clockOffset(window, winId, lit(severity), lit(seed))

  /** R3, column-parameterized. */
  def clockOffset(window: Column, winId: Column, severity: Column, seed: Column): Column = {
    val t = size(window)
    val maxShift = floor(severity * t).cast("int")
    val span = maxShift * 2 + 1 // draws in [-maxShift, maxShift]
    val shift = (floor(seededUniformC(seed, winId) * span)).cast("int") - maxShift
    when(maxShift <= 0, window).otherwise(
      transform(window, (_, i) =>
        element_at(window, pmod(i - shift, t) + 1)))
  }

  /** R4 drift — add a linear ramp t/(T−1) · N(0, severity) per feature
    * (one gaussian coefficient per (window, feature)). func_test.py:568-574. */
  def drift(window: Column, winId: Column, severity: Double, seed: Long): Column =
    if (severity <= 0) window
    else drift(window, winId, lit(severity), lit(seed))

  /** R4, column-parameterized.
    *
    * The gaussian coefficient depends only on (window, feature) — the F
    * Box–Muller draws are hoisted into one per-window coefficient array
    * bound as a lambda variable (see [[missingVariables]]): F draws per
    * window instead of T·F. */
  def drift(window: Column, winId: Column, severity: Column, seed: Column): Column =
    when(severity <= 0, window).otherwise {
      val t = size(window)
      val nF = size(element_at(window, 1))
      val coefs = transform(sequence(lit(0), nF - 1),
        j => seededNormalC(seed, winId, j) * severity)
      element_at(
        transform(array(coefs), cs =>
          transform(window, (row, i) =>
            // bind the per-timestep ramp once too — captured expressions
            // (size(window) included) would otherwise re-evaluate per cell
            element_at(
              transform(array(i.cast("double") / (t - 1).cast("double")), ratio =>
                zip_with(row, cs, (x, c) => x + ratio * c)),
              1))),
        1)
    }

  /** The degradation kinds R1–R4, by the reference's names. */
  val Kinds: Seq[String] = Seq("packet_loss", "missing_variables", "clock_offset", "drift")

  /** R6 — severity-sweep grid as a driver-side deterministic loop spec:
    * severities linspace(0, maxSev, nSev), seeds `base + 1000·i + rep`
    * (pipeline_tests_power.py:255-297). */
  def severityGrid(maxSev: Double = 0.6, nSev: Int = 7, nRepeats: Int = 5,
      baseSeed: Long = 123L): Seq[(Double, Int, Long)] =
    for {
      i <- 0 until nSev
      r <- 0 until nRepeats
    } yield (maxSev * i / (nSev - 1), r, baseSeed + 1000L * i + r)
}

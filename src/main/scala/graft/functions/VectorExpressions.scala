package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * `functions.zip_with`/`aggregate` (higher-order functions) evaluate
  * their lambdas interpreted, one boxed element at a time — fine for a
  * projection or two, but the IVF/ANN assignment step computes
  * O(corpus × centroids) dot products, where the fold overhead dominates.
  * These expressions generate a tight primitive `for` loop inside
  * whole-stage codegen (SURVEY §2.11: native Expression > UDF).
  *
  * Lives under org.apache.spark.sql because the Expression/Column bridge
  * (`ExpressionUtils`) and `AbstractDataType` are private[sql] — the
  * standard pattern for third-party native expressions. Public API:
  * [[graft.functions.VectorFunctions]].
  *
  * Semantics match the array-fold forms: sequential left-to-right
  * accumulation in double, truncated to the shorter array, null if either
  * input is null.
  */
object VectorShim {
  def dotCol(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def l2normCol(a: Column): Column =
    ExpressionUtils.column(L2Norm(ExpressionUtils.expression(a)))
  def nearestCentroidCol(vec: Column, vnorm: Column,
      cvecs: Array[Array[Double]], cnorms: Array[Double]): Column =
    ExpressionUtils.column(NearestCentroid(ExpressionUtils.expression(vec),
      ExpressionUtils.expression(vnorm), cvecs, cnorms))
  def nearestCellsCol(vec: Column, vnorm: Column,
      cvecs: Array[Array[Double]], cnorms: Array[Double], nProbe: Int): Column =
    ExpressionUtils.column(NearestCells(ExpressionUtils.expression(vec),
      ExpressionUtils.expression(vnorm), cvecs, cnorms, nProbe))
  def prefixDotsCol(a: Column, b: Column, cuts: Array[Int]): Column =
    ExpressionUtils.column(PrefixDots(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b), cuts))
  def prefixNormsCol(a: Column, cuts: Array[Int]): Column =
    ExpressionUtils.column(PrefixNorms(ExpressionUtils.expression(a), cuts))

  /** Unwrap a `.asc` SortOrder column into its projectable child (needed by
    * the distributed-index primitives, which must evaluate order keys as
    * real columns before the range exchange); descending keys are rejected
    * — not an index/windower use case. */
  def unwrapAscending(c: Column): Column = {
    import org.apache.spark.sql.internal.{SortOrder => SortNode}
    c.node match {
      case so: SortNode =>
        require(so.sortDirection == SortNode.Ascending,
          "only ascending order columns are supported")
        Column(so.child)
      case _ => c
    }
  }

  /** Register the SQL functions on an EXISTING session (extensions via
    * `spark.sql.extensions` only apply to sessions created after the
    * config is set — `getOrCreate` against a live session ignores them). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.functions.GraftExtensions.sqlFunctions.foreach(f =>
      reg.createOrReplaceTempFunction(f.name, f.builder, "scala_udf"))
  }
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

case class L2Norm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** The cosine distance's divisor `vnorm · cnorm` in the native kernels,
  * loud on zero exactly like the literal `least()` form of the same
  * argmin (graft.ops.Similarity `assignCells`), whose ANSI division
  * raises DIVIDE_BY_ZERO: a zero-norm vector or centroid fails the same
  * way whichever form the index picks, instead of argmin-ing NaN
  * distances into the lowest cell. */
object CosineDivisor {
  def apply(vnorm: Double, cnorm: Double): Double = {
    val den = vnorm * cnorm
    if (den == 0.0)
      throw org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
    den
  }
}

/** Per-row nearest-centroid argmin over a CONSTANT centroid matrix — the
  * scale form of the IVF cell assignment (graft.ops.Similarity
  * `assignCells`). Returns the winning centroid's INDEX (the caller maps
  * index → cell id via a literal array in the same order).
  *
  * Centroids must be supplied in ascending-cell-id order: the loop keeps
  * the FIRST index whose distance strictly beats the incumbent
  * (`Double.compare < 0`), which reproduces `least()`-struct semantics
  * exactly — ties → earliest visited = lowest id, NaN distances greatest
  * (never win against a number, and an all-NaN row keeps the lowest id).
  * A zero divisor raises ([[CosineDivisor]]).
  *
  * vs the previous literal-array `aggregate` fold: same math, but the
  * matrix rides as ONE referenced `double[][]` (plan size independent of
  * nCells) and the loop is a static primitive method invoked from inside
  * whole-stage codegen — measured ~5× faster than the interpreted
  * higher-order fold at 16 cells × dim 64 (the fold evaluates its lambda
  * through boxed `Literal` element_at calls per (row, cell)). */
object NearestCentroidImpl {
  def compute(v: ArrayData, vnorm: Double, cvecs: Array[Array[Double]],
      cnorms: Array[Double]): Int = {
    var best = -1
    var bestD = 0.0
    var c = 0
    while (c < cvecs.length) {
      val cv = cvecs(c)
      val n = math.min(v.numElements(), cv.length)
      var dp = 0.0
      var j = 0
      while (j < n) { dp += v.getDouble(j) * cv(j); j += 1 }
      val d = -dp / CosineDivisor(vnorm, cnorms(c))
      if (best < 0 || java.lang.Double.compare(d, bestD) < 0) {
        best = c; bestD = d
      }
      c += 1
    }
    best
  }
}

/** Top-`nProbe` nearest centroids by cosine (indices in (distance asc,
  * id asc) order — centroids supplied ascending by id, like
  * [[NearestCentroid]]). The probe-selection twin of the argmin: one
  * native call per QUERY row replaces a 2·nCells-literal `array_sort`
  * projection whose typedLit forest taxed every Catalyst pass of the ANN
  * plans (round-9 profile: ~0.8 s driver-side per ann_ivf run even with
  * warm codegen). */
object NearestCellsImpl {
  def compute(v: ArrayData, vnorm: Double, cvecs: Array[Array[Double]],
      cnorms: Array[Double], nProbe: Int): ArrayData = {
    val k = cvecs.length
    val d = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = cvecs(c)
      val n = math.min(v.numElements(), cv.length)
      var dp = 0.0
      var j = 0
      while (j < n) { dp += v.getDouble(j) * cv(j); j += 1 }
      d(c) = -dp / CosineDivisor(vnorm, cnorms(c))
      c += 1
    }
    val idx = Array.range(0, k).sortWith { (a, b) =>
      val cd = java.lang.Double.compare(d(a), d(b))
      if (cd != 0) cd < 0 else a < b
    }
    new GenericArrayData(idx.take(math.min(nProbe, k)))
  }
}

case class NearestCells(vec: Expression, vnorm: Expression,
    cvecs: Array[Array[Double]], cnorms: Array[Double], nProbe: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(cvecs.nonEmpty && cvecs.length == cnorms.length && nProbe >= 1,
    "need >=1 centroid, one norm per centroid, nProbe >= 1")
  override def left: Expression = vec
  override def right: Expression = vnorm
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestCellsImpl.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Double], cvecs, cnorms, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cv = ctx.addReferenceObj("cvecs", cvecs, "double[][]")
    val cn = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, (v, n) =>
      s"${ev.value} = org.apache.spark.sql.graft.NearestCellsImpl" +
        s".compute($v, $n, $cv, $cn, $nProbe);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCells =
    copy(vec = newLeft, vnorm = newRight)
}

/** Cumulative prefix dot products at fixed cut points — the matryoshka
  * (MRL) fusion primitive: ONE ascending pass over the common prefix of
  * two vectors emits `Σ_{i<cut} a[i]·b[i]` for every cut. Because
  * float addition over a prefix is exactly the prefix of the running
  * accumulation, out[c] is BIT-IDENTICAL to
  * `DotProduct(slice(a,1,cut), slice(b,1,cut))` — so rankings computed
  * from these partials match the per-budget sliced passes ulp-for-ulp.
  * Cuts beyond the common length saturate (slice semantics). */
object PrefixDotsImpl {
  def compute(a: ArrayData, b: ArrayData, cuts: Array[Int]): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Double](cuts.length)
    var s = 0.0
    var i = 0
    var c = 0
    while (c < cuts.length) {
      val stop = math.min(cuts(c), n)
      while (i < stop) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
      out(c) = s
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** Prefix L2 norms at fixed cut points — same cumulative contract as
  * [[PrefixDotsImpl]]: out[c] == L2Norm(slice(a,1,cut)) bit-for-bit. */
object PrefixNormsImpl {
  def compute(a: ArrayData, cuts: Array[Int]): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](cuts.length)
    var s = 0.0
    var i = 0
    var c = 0
    while (c < cuts.length) {
      val stop = math.min(cuts(c), n)
      while (i < stop) { val v = a.getDouble(i); s += v * v; i += 1 }
      out(c) = math.sqrt(s)
      c += 1
    }
    new GenericArrayData(out)
  }
}

case class PrefixDots(left: Expression, right: Expression, cuts: Array[Int])
    extends BinaryExpression with ExpectsInputTypes {
  require(cuts.nonEmpty && cuts.head >= 1 &&
    cuts.iterator.sliding(2).withPartial(false).forall(p => p.head < p(1)),
    "cuts must be strictly ascending and positive")
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_prefix_dots"

  override def nullSafeEval(a: Any, b: Any): Any =
    PrefixDotsImpl.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], cuts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cc = ctx.addReferenceObj("cuts", cuts, "int[]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = org.apache.spark.sql.graft.PrefixDotsImpl" +
        s".compute($a, $b, $cc);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PrefixDots =
    copy(left = newLeft, right = newRight)
}

case class PrefixNorms(child: Expression, cuts: Array[Int])
    extends UnaryExpression with ExpectsInputTypes {
  require(cuts.nonEmpty && cuts.head >= 1 &&
    cuts.iterator.sliding(2).withPartial(false).forall(p => p.head < p(1)),
    "cuts must be strictly ascending and positive")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_prefix_norms"

  override def nullSafeEval(a: Any): Any =
    PrefixNormsImpl.compute(a.asInstanceOf[ArrayData], cuts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cc = ctx.addReferenceObj("cuts", cuts, "int[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = org.apache.spark.sql.graft.PrefixNormsImpl" +
        s".compute($a, $cc);")
  }

  override protected def withNewChildInternal(newChild: Expression): PrefixNorms =
    copy(child = newChild)
}

case class NearestCentroid(vec: Expression, vnorm: Expression,
    cvecs: Array[Array[Double]], cnorms: Array[Double])
    extends BinaryExpression with ExpectsInputTypes {
  require(cvecs.nonEmpty && cvecs.length == cnorms.length,
    "need at least one centroid and one norm per centroid")
  override def left: Expression = vec
  override def right: Expression = vnorm
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestCentroidImpl.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[Double], cvecs, cnorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cv = ctx.addReferenceObj("cvecs", cvecs, "double[][]")
    val cn = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, (v, n) =>
      s"${ev.value} = org.apache.spark.sql.graft.NearestCentroidImpl" +
        s".compute($v, $n, $cv, $cn);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCentroid =
    copy(vec = newLeft, vnorm = newRight)
}

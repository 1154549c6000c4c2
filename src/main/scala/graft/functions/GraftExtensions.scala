package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{BetaInv, DotProduct, JaccardSim, JaroWinkler, L2Norm,
  MinHashSig, WordShingles}

/** SparkSessionExtensions registering the engine's native expressions as
  * SQL functions, so `spark.sql("SELECT graft_dot(a, b) …")` works and
  * external SQL tooling sees them in the catalog.
  *
  * Enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or programmatically via `SparkSession.builder.withExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => JaccardSizeGuardRule)
    GraftExtensions.sqlFunctions.foreach { f =>
      ext.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.expressionClass.getName, f.name), f.builder))
    }
  }
}

object GraftExtensions {
  /** Install the optimizer rules on an already-built session (the
    * `injectOptimizerRule` path requires configuring extensions at
    * session build; live sessions use `experimental.extraOptimizations`). */
  def installOptimizations(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(JaccardSizeGuardRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ JaccardSizeGuardRule

  /** One SQL function: its `usage` line (name and arguments, also the
    * wrong-arity error message), the expression class it builds, and the
    * builder over an argument list of the right arity. */
  final case class SqlFunction(usage: String,
      expressionClass: Class[_ <: Expression],
      build: PartialFunction[Seq[Expression], Expression]) {
    def name: String = usage.takeWhile(_ != '(')
    def builder: Seq[Expression] => Expression = { children =>
      require(build.isDefinedAt(children), usage)
      build(children)
    }
  }

  /** The engine's SQL functions: [[GraftExtensions]] injects them into a
    * session being built, `VectorShim.register` into a live one. */
  val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_dot(arrayA, arrayB)", classOf[DotProduct],
      { case Seq(a, b) => DotProduct(a, b) }),
    SqlFunction("graft_l2norm(array)", classOf[L2Norm],
      { case Seq(a) => L2Norm(a) }),
    SqlFunction("graft_shingles(text, nWords)", classOf[WordShingles],
      { case Seq(t, n) => WordShingles(t, intLit(n, "nWords")) }),
    SqlFunction("graft_minhash(shingles, numHashes)", classOf[MinHashSig],
      { case Seq(sh, n) => MinHashSig(sh, intLit(n, "numHashes")) }),
    SqlFunction("graft_jaccard(arrayA, arrayB)", classOf[JaccardSim],
      { case Seq(a, b) => JaccardSim(a, b) }),
    SqlFunction("graft_jaro_winkler(a, b)", classOf[JaroWinkler],
      { case Seq(a, b) => JaroWinkler(a, b) }),
    SqlFunction("graft_beta_inv(p, a, b)", classOf[BetaInv],
      { case Seq(p, a, b) => BetaInv(p, a, b) }))

  /** Extract a literal int argument (e.g. `graft_minhash(sh, 32)`). */
  private def intLit(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal integer")
    e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(s"$name must be an int, got $other")
    }
  }
}

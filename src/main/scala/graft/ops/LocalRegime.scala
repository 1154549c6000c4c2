package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.DynamicVariable

/** The one small-input regime switch. Iterative operators
  * ([[Graph.pageRank]], [[Dedup.connectedComponents]], [[Mondrian.fit]],
  * [[Sessionize.episodes]], [[Similarity.trainIvfCentroids]],
  * [[TextOps.bpeTrain]], …) pay a fixed scheduling floor per distributed
  * round regardless of volume, so an input that fits a bounded driver
  * budget runs the identical loop on the driver instead. Each operator
  * keeps its limit as a named constant next to itself and asks here
  * whether its input fits; the distributed loop stays the only path at
  * scale and the parity reference. */
private[graft] object LocalRegime {

  private val forceDistributed = new DynamicVariable[Boolean](false)

  /** The rows of `df` when it has at most `n` rows, else `None`. One
    * `limit(n + 1).collect()` decides — it early-exits on big inputs, so
    * there is no separate count job; `n <= 0` answers `None` with no job. */
  def collectAtMost(df: DataFrame, n: Int): Option[Array[Row]] =
    if (forceDistributed.value) None else collectBounded(df, n)

  /** The same probe for a table that has no distributed regime to fall
    * back to — a small result its caller needs on the driver and refuses
    * by name past `n` (the metric count tables of [[MetricsOps]]) — so
    * [[distributedOnly]] does not apply to it. */
  def collectBounded(df: DataFrame, n: Int): Option[Array[Row]] =
    if (n <= 0) None else Some(df.limit(n + 1).collect()).filter(_.length <= n)

  /** Runs `body` with every probe answering `None`, so each operator
    * takes its distributed loop — the seam the regime-parity specs use. */
  def distributedOnly[T](body: => T): T = forceDistributed.withValue(true)(body)
}

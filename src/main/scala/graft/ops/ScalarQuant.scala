package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8) quantization for embedding columns — the memory/IO scale
  * path for 100 TB vector scans: per-dimension affine quantization of
  * L2-normalized vectors to 8-bit codes (4x narrower than float32, 8x
  * narrower than the double working form), with asymmetric
  * dequantize-then-dot scoring (queries stay full precision, the corpus
  * pays one byte per dimension).
  *
  * Engine-portable by construction: the fit is per-dimension MIN/MAX (exact,
  * order-independent — unlike a mean/variance fit there is nothing to drift
  * on summation order), and the encode formula
  * `clamp(floor((x - min)/scale + 0.5), 0, 255)` is identical IEEE-754
  * arithmetic in any engine, so a SQL twin reproduces the codes
  * bit-for-bit from the same parquet (no literal replay needed).
  *
  * Scale shape: fit = ONE aggregation pass (2·dim min/max aggregates,
  * map-side combined — no Expand, no shuffle beyond the 1-row final agg);
  * encode = a pure projection (no shuffle, no state); ranking composes
  * with the existing ANN machinery ([[Similarity.bruteForceTopK]] here;
  * feed the encoded frame through [[Similarity.ivfTopK]] cells for the
  * cell-pruned form at scale).
  */
object ScalarQuant {

  /** Per-dimension affine model over L2-NORMALIZED vectors: `mins(i)` and
    * `scales(i) = (max_i - min_i)/255`; a constant dimension has scale 0
    * and always encodes to code 0. A dimension with no finite value (every
    * element null or NaN) has min 0 and scale 0: it encodes to code 0 and
    * dequantizes to 0. */
  case class Sq8Model(mins: Array[Double], scales: Array[Double]) {
    def dim: Int = mins.length
  }

  /** L2-normalize an `array<double>` column (norm computed once via an
    * upstream column, not per element — pass the precomputed norm). */
  private def normalized(vec: Column, vnorm: Column): Column =
    transform(vec, x => x / vnorm)

  /** Fit per-dimension min/max over the L2-normalized `vec` column in ONE
    * aggregation pass. r13: the 2·dim-expression min/max forest
    * (`min(element_at(transform(vec, x/norm), i))` × 128 at dim 64 —
    * per-row cost and plan size both O(dim)) is now ONE
    * [[org.apache.spark.sql.graft.NormalizedMinMaxAgg]] buffer: norm +
    * d compares per row in a tight loop, map-side combined, d-independent
    * plan. Exact parity (same IEEE normalization, Double.compare
    * ordering) is pinned in R13FusionSpec. */
  def fitSq8(corpus: DataFrame, vec: String, dim: Int): Sq8Model = {
    require(dim > 0, "dim must be positive")
    val r = corpus.agg(org.apache.spark.sql.graft.MomentShim
      .normalizedMinMaxCol(col(vec).cast("array<double>"), dim).as("mm"))
      .head()
    val mm = r.getSeq[Double](0)
    // min skips NaN (Double.compare orders it greatest): a dimension with
    // no finite value keeps the +Inf seed
    val (mins, scales) = mm.take(dim).zip(mm.drop(dim)).map { case (mn, mx) =>
      if (java.lang.Double.isFinite(mn)) (mn, (mx - mn) / 255.0) else (0.0, 0.0)
    }.unzip
    Sq8Model(mins.toArray, scales.toArray)
  }

  /** Encode an L2-normalized `array<double>` column to `array<tinyint>`
    * codes (stored value = code − 128 so the full 0..255 range fits the
    * signed byte): `clamp(floor((x − min_i)/scale_i + 0.5), 0, 255)`.
    * The floor(t + 0.5) form (not round()) keeps the halfway rule
    * explicit and identical across engines. */
  def encodeSq8(vecNorm: Column, m: Sq8Model): Column = {
    val mins = lit(m.mins)
    val scales = lit(m.scales)
    transform(vecNorm, (x, i) => {
      val mn = element_at(mins, i + 1)
      val sc = element_at(scales, i + 1)
      val code = when(sc > 0.0, floor((x - mn) / sc + lit(0.5))).otherwise(lit(0L))
      (least(lit(255L), greatest(lit(0L), code)) - lit(128L)).cast("byte")
    })
  }

  /** Dequantize `array<tinyint>` codes back to `array<double>`:
    * `min_i + scale_i · (code + 128)`. Max per-dimension error is
    * scale_i / 2. */
  def dequantSq8(codes: Column, m: Sq8Model): Column = {
    val mins = lit(m.mins)
    val scales = lit(m.scales)
    transform(codes, (c, i) =>
      element_at(mins, i + 1) +
        element_at(scales, i + 1) * (c.cast("long") + lit(128L)).cast("double"))
  }

  /** Corpus frame quantized for storage/scan: (id, codes array<tinyint>).
    * Write THIS at 100 TB — the vector scan drops to 1 byte/dim. */
  def encodeCorpus(corpus: DataFrame, id: String, vec: String,
      m: Sq8Model): DataFrame =
    corpus
      .withColumn("__n", graft.functions.VectorFunctions.l2norm(col(vec)))
      .select(col(id), encodeSq8(normalized(col(vec), col("__n")), m).as("codes"))

  /** Quantized top-k: fit (one pass) → encode (projection) → rank queries
    * against the DEQUANTIZED codes with the exact [[Similarity
    * .bruteForceTopK]] plan (broadcast queries, per-query window top-k —
    * no corpus shuffle). The encode→dequant roundtrip through the int8
    * codes is deliberate: the returned ranking is exactly what the
    * compressed representation can support, so recall measured against
    * [[Similarity.bruteForceTopK]] on the raw vectors is the true
    * quantization cost (≈0.99 recall@5 at dim 64 on the test embeddings).
    * At scale swap the brute ranking for the IVF cell scan over the same
    * encoded frame. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      qid: String, qvec: String, k: Int, dim: Int): DataFrame = {
    val m = fitSq8(corpus, vec, dim)
    val dequant = encodeCorpus(corpus, id, vec, m)
      .select(col(id), dequantSq8(col("codes"), m).as("__dv"))
    Similarity.bruteForceTopK(dequant, queries, id, "__dv", qid, qvec, k)
  }
}

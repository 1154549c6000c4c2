package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Training-data deduplication operators (engine extension beyond the
  * reference — BASELINE.json north star): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. All hash-based and shuffle-frugal:
  *
  *  - exact: one groupBy on a 128-bit content hash — the canonical
  *    100 TB dedup (shuffle carries hashes + ids, never documents).
  *  - MinHash/LSH: per-row signature (narrow), then ONE shuffle on
  *    (band, band-hash) buckets; candidate pairs only within buckets.
  *  - SimHash: per-row 64-bit fingerprint (narrow); near-dup = small
  *    Hamming distance, bucketed by fingerprint prefix.
  *
  * Everything is built from `xxhash64`/`md5` + array expressions — no UDFs,
  * deterministic across cluster sizes and retries.
  */
object Dedup {

  /** Word n-gram shingles of a whitespace-tokenized text column — the
    * native [[org.apache.spark.sql.graft.WordShingles]] expression (one
    * tokenization per document; the HOF transform/slice/join form
    * re-split the whole document once per shingle). Blank text → empty
    * array (caught by the ScalaCheck shingle-count law). */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.MinHashShim.shinglesCol(text, n)

  /** Exact duplicate groups: rows sharing md5(text). Returns
    * (dup_hash, n_copies, keeper_id, doc_ids) for groups with >1 member. */
  def exactDuplicates(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("dup_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(id)).as("keeper_id"),
        sort_array(collect_list(col(id))).as("doc_ids"))
      .where(col("n_copies") > 1)

  /** Exact dedup: keep the lowest-id row per content hash. One shuffle on
    * the hash; ties broken deterministically. */
  def dedupExact(df: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(md5(col(text))).orderBy(col(id))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Keep-BEST-per-cluster dedup — the RefinedWeb/FineWeb keeper rule:
    * when near-dups collapse to a cluster, retain the highest-QUALITY
    * copy, not the lowest id (the min-id keeper of [[dedupExact]] is
    * arbitrary among byte-equal copies, but near-dup clusters mix good
    * and mangled variants of the same content — boilerplate-stripped vs
    * ad-ridden — and the keeper choice moves downstream model quality).
    *
    * `cluster` is any cluster assignment (typically
    * [[connectedComponents]] over verified near-dup edges), `score` any
    * engine-portable quality column (e.g. [[TextOps.qualityScore]], a
    * classifier probability, or −perplexity). Keeps the max-score row
    * per cluster, score ties to the lowest id. ONE window over the
    * cluster key — the same single shuffle as [[dedupExact]]; the keeper
    * decision rides with the row, nothing is re-joined. */
  def keepBestPerCluster(df: DataFrame, id: String, cluster: Column,
      score: Column): DataFrame = {
    val w = Window.partitionBy(cluster).orderBy(score.desc, col(id))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Soft dedup: DOWN-WEIGHT duplicates instead of dropping them
    * (He et al. 2024, "SoftDedup" — reweighting preserves the loss
    * signal of common text while removing its over-representation;
    * every sampled-training loader consumes a weight column anyway).
    * Each row gains (n_copies, sample_weight = n_copies^(−beta)):
    * beta = 1 makes every duplicate SET contribute total weight 1
    * (exact-dedup-equivalent in expectation); beta = 0 keeps raw
    * weights; intermediate beta interpolates.
    *
    * One window over md5(text) — the same single hash-keyed shuffle as
    * [[dedupExact]] (hashes + ids move, documents don't re-shuffle:
    * the window carries the row). Weight is rounded to 9 dp so the
    * value is bit-stable across engines. */
  def softDedupWeights(df: DataFrame, id: String, text: String,
      beta: Double = 1.0): DataFrame = {
    require(beta >= 0.0, "beta must be >= 0")
    val w = Window.partitionBy(md5(col(text)))
    df.withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("sample_weight",
        round(pow(col("n_copies").cast("double"), lit(-beta)), 9))
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: classify
    * every document id across two corpus snapshots as `added` (only in
    * `next`), `removed` (only in `prev`), `changed` (both, different
    * md5(text)), or `unchanged`. Returns (id, status).
    *
    * Scale shape: both sides collapse to (id, md5) BEFORE the join —
    * the full-outer join shuffles 16-byte hashes keyed by id, never
    * document bodies; at 100 TB this is two narrow column scans + one
    * id-keyed exchange. Ids must be unique per snapshot (it's a diff of
    * keyed snapshots, not a multiset) — enforce upstream with
    * [[dedupExact]] or a key constraint. */
  def corpusDiff(prev: DataFrame, next: DataFrame, id: String,
      text: String): DataFrame = {
    val p = prev.select(col(id).as("__pid"), md5(col(text)).as("__ph"))
    val n = next.select(col(id).as("__nid"), md5(col(text)).as("__nh"))
    p.join(n, col("__pid") === col("__nid"), "full_outer")
      .select(coalesce(col("__pid"), col("__nid")).as(id),
        when(col("__pid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("__ph") =!= col("__nh"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** MinHash signature expression: for permutation p in 0 until numHashes,
    * min over shingles of xxhash64(shingle, p) — the native codegen
    * [[org.apache.spark.sql.graft.MinHashSig]] expression: each shingle
    * string is hashed ONCE and each permutation is one integer mix inside
    * a tight generated loop. Bit-identical to the HOF form (Spark's
    * xxhash64(s, p) = hashInt(p, hashUTF8String(s, 42))). */
  def minhashSignature(text: Column, numShingleWords: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.MinHashShim.minhashCol(
      shingles(text, numShingleWords), numHashes)

  /** MinHash signatures as a table: (id, sig array<long>).
    *
    * Distributed shape: a single NARROW projection — no explode, no
    * shuffle, nothing wide; the per-row native expression does
    * |shingles| string hashes + |shingles|·numHashes integer mixes.
    * (An earlier exploded groupBy(id, perm) form shuffled
    * |docs|·|shingles|·numHashes rows — measured ~100× slower, SCALE.md.)
    * Docs with no shingles get the sentinel signature (Long.MaxValue
    * everywhere). */
  def minhashSignatures(df: DataFrame, id: String, text: String,
      numShingleWords: Int, numHashes: Int): DataFrame =
    df.select(col(id), shingles(col(text), numShingleWords).as("__sh"))
      .select(col(id),
        org.apache.spark.sql.graft.MinHashShim.minhashCol(col("__sh"), numHashes).as("sig"))

  /** MinHash + LSH banding: signature of `numBands·rowsPerBand` hashes,
    * split into bands; emit one (band_idx, band_hash) bucket key per band.
    * Near-duplicate candidates = pairs sharing ANY bucket. Returns the
    * exploded bucket table (id, band, bucket) — callers self-join on
    * (band, bucket) to get candidate pairs, then verify with
    * [[jaccardSimilarity]]. */
  def lshBuckets(df: DataFrame, id: String, text: String,
      numShingleWords: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    // Docs with NO shingles (shorter than the shingle width, blank) are
    // excluded: they share the sentinel signature, which would put every
    // such doc in the same bucket of every band — an O(E²) candidate
    // blow-up for zero verified pairs (their Jaccard is 0/0). Blank-dup
    // detection is exactDuplicates' job.
    val sigs = minhashSignatures(
      df.where(size(shingles(col(text), numShingleWords)) > 0),
      id, text, numShingleWords, numBands * rowsPerBand)
    sigs.select(col(id), posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
        xxhash64(array_join(transform(
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string")), ","), b)))
      .as(Seq("band", "bucket")))
  }

  /** Candidate near-dup pairs from LSH buckets, verified by true n-gram
    * Jaccard >= threshold. The self-join runs per (band,bucket) — the only
    * quadratic blow-up is within buckets, which banding keeps small. */
  def minhashNearDuplicates(df: DataFrame, id: String, text: String,
      threshold: Double, numShingleWords: Int = 3,
      numBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    // both bucket-join legs read the signatures, and both verify joins
    // read the shingle sets: checkpoint each so the corpus is
    // shingled/minhashed once per representation, not once per leg (r12)
    val buckets = lshBuckets(df, id, text, numShingleWords, numBands, rowsPerBand)
      .localCheckpoint(false)
    val a = buckets.toDF("id_a", "band", "bucket")
    val b = buckets.toDF("id_b", "band", "bucket")
    val pairs = a.join(b, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val docs = df.select(col(id), shingles(col(text), numShingleWords).as("sh"))
      .localCheckpoint(false)
    pairs
      .join(docs.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(docs.toDF("id_b", "sh_b"), Seq("id_b"))
      .withColumn("jaccard",
        org.apache.spark.sql.graft.MinHashShim.jaccardCol(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-split leakage audit: near-duplicate pairs whose members sit in
    * DIFFERENT splits (train vs validation/test) — the split-level form
    * of benchmark decontamination. A near-dup of a training document
    * inside the eval split silently inflates every metric computed on it;
    * this surfaces exactly those pairs so the caller can re-assign or
    * drop them (conventionally the eval-side doc moves to train, keeping
    * the eval set honest).
    *
    * Same banded LSH shape as [[minhashNearDuplicates]] (never all-pairs)
    * plus two id-keyed joins against the skinny (id, split) projection —
    * broadcast-sized relative to the corpus only if the caller bounded
    * the input; left as hash joins so the op holds at corpus scale.
    * Returns (id_a, id_b, split_a, split_b, jaccard), id_a < id_b,
    * cross-split rows only. */
  def splitLeakage(df: DataFrame, id: String, text: String, split: String,
      threshold: Double, numShingleWords: Int = 3,
      numBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val pairs = minhashNearDuplicates(df, id, text, threshold,
      numShingleWords, numBands, rowsPerBand)
    val splits = df.select(col(id), col(split))
    pairs
      .join(splits.toDF("id_a", "split_a"), Seq("id_a"))
      .join(splits.toDF("id_b", "split_b"), Seq("id_b"))
      .where(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "split_a", "split_b", "jaccard")
  }

  /** Cross-table fuzzy (MinHash-LSH) join — entity matching between two
    * corpora: pairs (left id, right id) whose texts share an LSH bucket
    * AND pass true n-gram Jaccard ≥ threshold. The same banding math as
    * [[minhashNearDuplicates]], but as a LEFT×RIGHT equi-join on
    * (band, bucket) instead of a self-join — no `left < right` dedup
    * (the sides are distinct tables), candidates deduped on the id pair
    * before the exact verification join. Quadratic cost exists only
    * within shared buckets; everything else is hash equi-joins. Returns
    * (idL, idR, jaccard); if idL == idR the outputs are suffixed
    * `_left`/`_right` to stay unambiguous. */
  def fuzzyJoin(left: DataFrame, idL: String, textL: String,
      right: DataFrame, idR: String, textR: String,
      threshold: Double, numShingleWords: Int = 3,
      numBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val a = lshBuckets(left, idL, textL, numShingleWords, numBands, rowsPerBand)
      .toDF("__ida", "band", "bucket")
    val b = lshBuckets(right, idR, textR, numShingleWords, numBands, rowsPerBand)
      .toDF("__idb", "band", "bucket")
    val pairs = a.join(b, Seq("band", "bucket"))
      .select("__ida", "__idb").distinct()
    val docsA = left.select(col(idL).as("__ida"),
      shingles(col(textL), numShingleWords).as("__sha"))
    val docsB = right.select(col(idR).as("__idb"),
      shingles(col(textR), numShingleWords).as("__shb"))
    pairs
      .join(docsA, Seq("__ida"))
      .join(docsB, Seq("__idb"))
      .withColumn("jaccard",
        org.apache.spark.sql.graft.MinHashShim.jaccardCol(col("__sha"), col("__shb")))
      .where(col("jaccard") >= threshold)
      // When both tables use the same id name (the common case, "id"),
      // emitting two identically-named columns makes the result ambiguous
      // downstream — suffix them instead.
      .select(
        col("__ida").as(if (idL == idR) s"${idL}_left" else idL),
        col("__idb").as(if (idL == idR) s"${idR}_right" else idR),
        col("jaccard"))
  }

  /** Small-domain cap for the all-pairs verifiers ([[jaccardSimilarity]],
    * [[jaroWinklerPairs]]): 20k rows ≈ 2·10⁸ pairs, the edge of what a
    * verifier should ever chew. The guard costs one limit-probe job and
    * turns a mistaken corpus-scale call into a loud error instead of an
    * N² stage; raise it deliberately via the `maxDomain` parameter. */
  val DefaultMaxVerifierDomain: Int = 20000

  private def requireSmallDomain(df: DataFrame, maxDomain: Int, op: String, alt: String): Unit = {
    val probed = df.limit(maxDomain + 1).count()
    require(probed <= maxDomain,
      s"$op is an all-pairs small-domain verifier and its input exceeds " +
        s"maxDomain=$maxDomain rows; use $alt at corpus scale, or pass a " +
        s"deliberate maxDomain to raise the cap")
  }

  /** Brute-force n-gram Jaccard over all pairs (the LSH verifier / small-N
    * baseline; O(N²) — use [[minhashNearDuplicates]] at scale; inputs past
    * `maxDomain` rows fail loudly). */
  def jaccardSimilarity(df: DataFrame, id: String, text: String, n: Int,
      maxDomain: Int = DefaultMaxVerifierDomain): DataFrame = {
    val docs = df.select(col(id).as("id"), shingles(col(text), n).as("sh"))
    requireSmallDomain(docs, maxDomain, "jaccardSimilarity", "minhashNearDuplicates")
    docs.toDF("id_a", "sh_a")
      .crossJoin(docs.toDF("id_b", "sh_b"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.graft.MinHashShim.jaccardCol(col("sh_a"), col("sh_b"))
          .as("jaccard"))
  }

  /** Brute-force n-gram CONTAINMENT over all ORDERED pairs:
    * C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — the
    * asymmetric overlap that catches a short document embedded in a long
    * one, which Jaccard (and therefore MinHash-LSH) structurally
    * underweights: J = |A∩B|/|A∪B| → 0 as |B|/|A| grows even when A ⊆ B.
    * Directed: (a, b) and (b, a) are distinct findings. Small-domain
    * verifier (fails loudly past `maxDomain`) — [[containmentJoin]] is
    * the scale path, [[duplicateSpans]]/[[dedupSubstrings]] the
    * grain-level alternative. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, maxDomain: Int = DefaultMaxVerifierDomain): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val docs = df.select(col(id).as("id"), shingles(col(text), n).as("sh"))
      .where(size(col("sh")) > 0)
    requireSmallDomain(docs, maxDomain, "containmentPairs", "containmentJoin")
    docs.toDF("id_a", "sh_a").crossJoin(docs.toDF("id_b", "sh_b"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Distributed containment join via PREFIX FILTERING (the ssjoin /
    * PPJoin family, Chaudhuri et al. 2006; Xiao et al. 2008) — the scale
    * path of [[containmentPairs]], LOSSLESS by the pigeonhole argument:
    * C(A→B) ≥ t needs |A∩B| ≥ ⌈t·|A|⌉, i.e. A misses at most
    * |A| − ⌈t·|A|⌉ of its shingles from B, so among A's
    * |A| − ⌈t·|A|⌉ + 1 globally RAREST shingles (rarest-first minimizes
    * candidates; ties broken by shingle for determinism) at least one
    * must occur in B — indexing only those prefixes against the full
    * posting list finds every qualifying pair. The ceil is taken with a
    * 1e-6 slack because IEEE t·|A| can land an ulp ABOVE the exact
    * integer (0.8·5 → 4.0000000000000002 → ⌈·⌉ = 5 would cut the prefix
    * to nothing at exactly c = t); the slack can only LENGTHEN the
    * prefix — a few extra candidates for the verifier, never lost
    * recall (the boundary-pair spec pins this).
    *
    * Shape: one explode + global shingle-frequency count (map-side
    * combined), one per-doc rank (id-keyed window), one prefix⋈postings
    * equi-join on the shingle, then exact verification on the deduped
    * candidates. Everything is linear in data size except the candidate
    * join, whose quadratic term is bounded per shingle by that shingle's
    * document frequency — the rarest-prefix choice keeps exactly that
    * small. Returns directed (id_a, id_b, containment). */
  def containmentJoin(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double): DataFrame =
    containmentJoinWithSizes(df, id, text, n, threshold)
      .select("id_a", "id_b", "containment")

  /** [[containmentJoin]] carrying the shingle-set sizes the verify stage
    * already computed — what [[dedupByContainment]]'s keep rule needs,
    * saved from two redundant re-joins. */
  private def containmentJoinWithSizes(df: DataFrame, id: String,
      text: String, n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val docs = df.select(col(id).as("id"), shingles(col(text), n).as("sh"))
      .where(size(col("sh")) > 0)
      // five consumers (the postings explode feeds three branches, the
      // verify stage joins the shingle sets back twice): checkpoint so
      // the text is shingled ONCE, not re-split per branch (r12)
      .localCheckpoint(false)
    val toks = docs.select(col("id"), size(col("sh")).as("__sz"),
      explode(col("sh")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("__f"))
    val prefix = toks.join(freq, Seq("tok"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("__f"), col("tok"))))
      .where(col("__rn") <= col("__sz") -
        ceil(lit(threshold) * col("__sz") - lit(1e-6)) + 1)
      .select(col("id").as("id_a"), col("tok"))
    val candidates = prefix
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("tok"))
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(docs.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(docs.toDF("id_b", "sh_b"), Seq("id_b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"),
        size(col("sh_a")).as("__sza"), size(col("sh_b")).as("__szb"))
  }

  /** Embedding-cosine near-duplicates: candidate pairs from multi-table
    * random-hyperplane LSH (a pair with angle θ collides in one table
    * with probability (1 − θ/π)^nBits; over nTables independent tables
    * the miss probability decays exponentially), verified by exact cosine
    * ≥ threshold. The self-join is per (table, bucket) — at 100 TB the
    * quadratic term is bounded by bucket occupancy, tunable via nBits;
    * the shuffle carries (id, norm, vector) once per table. */
  def embeddingNearDuplicates(df: DataFrame, id: String, vec: String,
      threshold: Double, nBits: Int = 8, nTables: Int = 4, seed: Long = 42L): DataFrame = {
    // ONE (id, vector, norm) projection feeds both bucket legs and both
    // verify joins (r12; the projection — including the norm fold —
    // re-executed four times before, plus a separate scan for the dim
    // probe, which now doubles as the checkpoint materializer)
    val base = df.select(col(id), col(vec).cast("array<double>").as("__v"))
      .withColumn("__n", Similarity.norm(col("__v")))
      .localCheckpoint(false)
    // hyperplanes need the dimensionality — probe one row (tiny action)
    val dim = base.select(size(col("__v"))).head().getInt(0)
    val buckets = (0 until nTables).map(t =>
      Similarity.randomHyperplaneLsh(col("__v"), nBits, seed + 7919L * t, dim))
    val withB = base
      .select(col(id), col("__v"), col("__n"),
        posexplode(array(buckets: _*)).as(Seq("__t", "__b")))
    val a = withB.select(col(id).as("id_a"), col("__t"), col("__b"))
    val b = withB.select(col(id).as("id_b"), col("__t"), col("__b"))
    val pairs = a.join(b, Seq("__t", "__b"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(base.select(col(id).as("id_a"), col("__v").as("va"),
        col("__n").as("na")), Seq("id_a"))
      .join(base.select(col(id).as("id_b"), col("__v").as("vb"),
        col("__n").as("nb")), Seq("id_b"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SimHash 31-bit fingerprint: sign of the per-bit sum of token hashes.
    * bit b of fingerprint = 1 iff Σ_tokens (bit b of hash(token) ? +1 : −1) > 0.
    * Near-dups have small Hamming distance. Pure array expressions. The
    * token hash is [[IntHash.stringHash]] (engine-portable, so the
    * dedup_simhash query carries a DuckDB oracle); widen to two salted
    * 31-bit lanes if 31 bits of fingerprint ever get collision-bound. */
  def simhash(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    val hashes = transform(toks, t => IntHash.stringHash(t))
    // native vote fold: one pass over the token hashes for all 31 bits
    // (the per-bit aggregate form walked the hash array 31 times,
    // interpreted)
    org.apache.spark.sql.graft.MinHashShim.simhashVotesCol(hashes, 31)
  }

  /** DuckDB twin of [[simhash]]. */
  def simhashSql(text: String): String = {
    val toks = s"regexp_split_to_array(trim($text), '\\s+')"
    val th = IntHash.stringHashSql("tok")
    val vote = s"list_reduce(list_transform(hs, h -> " +
      s"CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END), (a, c) -> a + c)"
    s"(SELECT list_reduce(list_concat([CAST(0 AS BIGINT)], " +
      s"list_transform(range(0, 31), b -> " +
      s"CASE WHEN $vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END)), " +
      s"(a, c) -> a + c) " +
      s"FROM (SELECT list_transform($toks, tok -> $th) AS hs) __sh)"
  }

  /** Hamming distance between two fingerprints (≤ 64 bits). */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Edge rows under which [[connectedComponents]] runs union-find on the
    * driver ([[LocalRegime]]). */
  private val LocalCcEdges = 1 << 18

  /** Near-duplicate CLUSTERING: connected components over an undirected
    * pair graph — the step after LSH that real dedup needs (keep one doc
    * per CLUSTER, not per pair; A~B and B~C must collapse A,B,C together
    * even when A~C was never emitted).
    *
    * Distributed shape: iterative min-label propagation WITH pointer
    * jumping. Each round (a) joins the current labels onto the bidirected
    * edge list and takes the min neighbor label per node (map-side
    * combined — the shuffle carries one row per touched node), then
    * (b) path-halves: every node re-reads the label OF its label, so
    * label chains collapse geometrically. Rounds needed are
    * O(log diameter) — a 1M-node chain converges in ~20 rounds, not 1M —
    * while shallow near-dup cliques still finish in 2–3 (`maxIter`
    * bounds the pathological rest). Each round is TWO hash joins over
    * node-sized tables + one edge-list join + a counter action; each
    * round is eagerly localCheckpointed (the path-halving self-join
    * references the round twice — without the lineage break the logical
    * plan would double every round), so lineage stays flat at any
    * scale.
    *
    * SMALL-GRAPH REGIME: when the edge list fits a bounded driver budget
    * (`LocalCcEdges`, 2^18 rows ≈ tens of MB of endpoint strings), the
    * iterative plan is the wrong tool — each round costs a fixed ~0.5–1s
    * in shuffle scheduling + eager checkpoint regardless of data volume,
    * so a 64-node entity graph pays seconds of pure overhead.
    * [[LocalRegime.collectAtMost]]'s `limit`-probed collect detects the
    * regime WITHOUT a separate count action, union-find with path
    * compression resolves the components on the driver (microseconds),
    * and the result rejoins the node table by BROADCAST — two narrow scans of `nodes`, zero
    * shuffles, identical output (component = min reachable member OF
    * `nodes`, string minima compared as UTF-8 bytes exactly like Spark's
    * `min`). Graphs past the threshold, or with a non-integral/non-string
    * id type, take the distributed loop unchanged — the probe's partial
    * evaluation is kept (the edge projection is persisted before probing)
    * so the big-graph path pays nothing extra.
    *
    * Returns (id, component) for EVERY node (singletons keep their own
    * id); component = min id reachable. `edges` may list each pair once
    * in either orientation. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, id: String,
      src: String, dst: String, maxIter: Int = 25): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    val idType = nodes.schema(id).dataType
    // cast edge endpoints to the NODE id type: the distributed loop's
    // equality joins would coerce implicitly (INT edges vs BIGINT nodes),
    // but the local regime collects raw edge values and must see them in
    // the node type, or the broadcast rejoin/min comparisons miscompare
    val e2 = edges
      .select(col(src).cast(idType).as("u"), col(dst).cast(idType).as("v"))
      .persist()
    val localizable = idType match {
      case LongType | IntegerType | ShortType | StringType => true
      case _ => false
    }
    if (localizable) LocalRegime.collectAtMost(e2, LocalCcEdges) match {
      case Some(probe) =>
        e2.unpersist()
        return localComponents(nodes, probe, id, idType)
      case None =>
    }
    // narrow re-projection of the persisted e2 each round — NOT cached
    // itself, so the edge list is stored once, not twice
    val bidir = e2
      .unionByName(e2.select(col("v").as("u"), col("u").as("v")))
    var labels = nodes.select(col(id).as("n"), col(id).as("comp")).cache()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = bidir.join(labels, col("v") === col("n"))
        .groupBy(col("u")).agg(min(col("comp")).as("nbr"))
      val stepped = labels.join(nbrMin, col("n") === col("u"), "left")
        .select(col("n"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("__mid"))
      // pointer jump (path halving): labels are node ids and only ever
      // decrease, so label(label(n)) <= label(n) — following one hop
      // collapses label chains geometrically (O(log diameter) rounds).
      // The self-join references `stepped` twice, so the logical plan
      // would DOUBLE every round without an eager lineage break —
      // localCheckpoint pins the round to its materialized blocks.
      val updated = stepped
        .join(stepped.select(col("n").as("__jn"), col("__mid").as("__jc")),
          col("__mid") === col("__jn"))
        .select(col("n"), col("__jc").as("comp"),
          (col("__jc") < col("__old")).as("changed"))
        .localCheckpoint(true)
      converged = updated.where(col("changed")).count() == 0
      labels.unpersist()
      labels = updated.drop("changed")
      it += 1
    }
    e2.unpersist()
    // returning un-converged labels would be SILENTLY WRONG components —
    // the one failure mode worse than failing. With pointer jumping,
    // maxIter = 25 covers any graph of diameter ≲ 2^25; hitting the cap
    // means either a pathological structure or a too-small maxIter, and
    // the caller must decide, not inherit partial labels.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "raise maxIter (rounds are O(log diameter) under path halving)")
    labels.select(col("n").as(id), col("comp").as("component"))
  }

  /** Driver-side finish for [[connectedComponents]]'s small-graph regime:
    * union-find with path compression over the collected (u, v) edge
    * rows, exact distributed semantics — endpoints ABSENT from `nodes`
    * neither bridge nor label (the iterative loop's label join drops
    * them), and the component label is the minimum member present in
    * `nodes`, with strings compared as UTF-8 bytes like Spark's `min`.
    * Driver memory is bounded by the caller's edge threshold (≤ 2·|edges|
    * endpoint values); `nodes` itself is never collected — membership of
    * the (bounded) endpoint set is resolved with one broadcast semi-join
    * scan, and the final label map rejoins by broadcast. */
  private def localComponents(nodes: DataFrame, edgeRows: Array[Row],
      id: String, idType: DataType): DataFrame = {
    val spark = nodes.sparkSession
    import scala.collection.mutable
    def utf8Less(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(xb.length, yb.length)
        var i = 0
        while (i < n) {
          val c = (xb(i) & 0xff) - (yb(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        xb.length < yb.length
      case (x: Long, y: Long) => x < y
      case (x: Int, y: Int) => x < y
      case (x: Short, y: Short) => x < y
      case _ => sys.error(s"unsupported local CC id: $a")
    }
    // index the endpoint universe
    val index = mutable.HashMap.empty[Any, Int]
    val vals = mutable.ArrayBuffer.empty[Any]
    def idx(a: Any): Int = index.getOrElseUpdate(a, { vals += a; vals.length - 1 })
    val es = edgeRows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (idx(r.get(0)), idx(r.get(1)))).toArray
    // which endpoints exist in `nodes` (bounded: ≤ |endpoints|)
    val epField = StructField("__ep", idType)
    val epDf = spark.createDataFrame(
      java.util.Arrays.asList(vals.map(Row(_)).toArray: _*),
      StructType(Seq(epField)))
    val present = new Array[Boolean](vals.length)
    nodes.join(broadcast(epDf), col(id) === col("__ep"), "left_semi")
      .select(col(id)).distinct().collect()
      .foreach(r => index.get(r.get(0)).foreach(present(_) = true))
    // union-find over edges whose BOTH endpoints are present
    val parent = Array.tabulate(vals.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      if (present(a) && present(b)) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(rb) = ra
      }
    }
    // min present member per root → (endpoint, component) label map
    val minOfRoot = mutable.HashMap.empty[Int, Any]
    vals.indices.foreach { i =>
      if (present(i)) {
        val r = find(i)
        val cur = minOfRoot.get(r)
        if (cur.isEmpty || utf8Less(vals(i), cur.get)) minOfRoot(r) = vals(i)
      }
    }
    val mapRows = vals.indices.collect {
      case i if present(i) => Row(vals(i), minOfRoot(find(i)))
    }
    val mapDf = spark.createDataFrame(
      java.util.Arrays.asList(mapRows.toArray: _*),
      StructType(Seq(epField, StructField("__comp", idType))))
    nodes.select(col(id))
      .join(broadcast(mapDf), col(id) === col("__ep"), "left")
      .select(col(id), coalesce(col("__comp"), col(id)).as("component"))
  }

  /** Cluster-aware keep-list: one row per component (the min-id member),
    * ready to semi-join the corpus. */
  def dedupByComponent(components: DataFrame, id: String = "id"): DataFrame =
    components.groupBy("component").agg(min(col(id)).as("keeper_id"))

  /** Benchmark decontamination: count, per corpus doc, the distinct word
    * n-grams it shares with an evaluation set — the train/test-leak scan
    * every pretraining pipeline runs before training.
    *
    * Shape for 100 TB: the BENCHMARK side is small (eval suites are
    * thousands of docs) — its distinct n-gram hashes broadcast; the corpus
    * side explodes its distinct n-grams once (narrow), hashes each to
    * [[IntHash]]'s engine-portable 31-bit space, and the broadcast join +
    * per-doc count is the only wide stage (map-side combined, carries one
    * row per contaminated doc). Both engines hash identically, so even
    * hash collisions agree with the DuckDB oracle. Returns
    * (id, n_shared_grams) for contaminated docs only. */
  def decontaminate(corpus: DataFrame, id: String, text: String,
      benchmark: DataFrame, benchText: String, n: Int): DataFrame = {
    val benchGrams = benchmark
      .select(explode(shingles(col(benchText), n)).as("g"))
      .select(IntHash.stringHash(col("g")).as("h")).distinct()
    corpus
      .select(col(id), explode(shingles(col(text), n)).as("g"))
      .select(col(id), IntHash.stringHash(col("g")).as("h")).distinct()
      .join(broadcast(benchGrams), Seq("h"), "left_semi")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Jaro–Winkler fuzzy pairs over a string column: all distinct value
    * pairs with similarity ≥ `minSim` (the prefix-boosted name-matching
    * metric — unlike levenshtein it rewards shared prefixes and is
    * length-normalized). Candidates are pre-filtered by the LOSSLESS
    * length-ratio bound `jw ≤ 0.2·(min/max) + 0.8` (from m ≤ min(|a|,|b|)
    * and the maximal prefix boost), i.e. for `minSim > 0.8` only pairs
    * with `min/max ≥ (minSim − 0.8)/0.2` reach the exact similarity.
    * Candidate generation is the all-pairs join on distinct values —
    * small-domain verifier like [[jaccardSimilarity]]; block with
    * [[lshBuckets]]/[[fuzzyJoin]] first at corpus scale (domains past
    * `maxDomain` distinct values fail loudly). */
  def jaroWinklerPairs(df: DataFrame, name: Column, minSim: Double,
      maxDomain: Int = DefaultMaxVerifierDomain): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, "minSim in (0, 1]")
    val names = df.select(name.cast("string").as("name_a"))
      .where(col("name_a").isNotNull).distinct()
    requireSmallDomain(names, maxDomain, "jaroWinklerPairs", "lshBuckets/fuzzyJoin blocking")
    val jw = org.apache.spark.sql.graft.MinHashShim
      .jaroWinklerCol(col("name_a"), col("name_b"))
    val ratio = least(length(col("name_a")), length(col("name_b"))).cast("double") /
      greatest(length(col("name_a")), length(col("name_b")))
    val prefilter =
      if (minSim > 0.8) ratio >= lit((minSim - 0.8) / 0.2) else lit(true)
    names.crossJoin(names.select(col("name_a").as("name_b")))
      .where(col("name_a") < col("name_b") && prefilter)
      .withColumn("jw", jw)
      .where(col("jw") >= minSim)
      .select(col("name_a"), col("name_b"), col("jw"))
  }

  /** Triangle enumeration over an undirected edge list — the graph-
    * quality diagnostic for near-dup/match graphs (triangle-dense
    * components are real duplicate clusters; triangle-free stars are
    * usually one hub record fuzzy-matching many unrelated ones).
    *
    * Canonicalizes to a<b edges, then the standard two-join enumeration
    * ordered a<b<c so every triangle appears EXACTLY once: (a,b)⋈(b,c)
    * closed by the (a,c) edge. Two hash equi-joins on node keys; the
    * ordering constraint keeps the join output linear in the true
    * wedge/triangle counts rather than 6× overcounted. */
  def triangles(edges: DataFrame, u: String, v: String): DataFrame = {
    val e = edges.select(least(col(u), col(v)).as("a"),
        greatest(col(u), col(v)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull).distinct()
      // three join legs read the canonical edge list: build it once (r12)
      .localCheckpoint(false)
    e.toDF("a", "b")
      .join(e.toDF("b", "c"), "b")
      .join(e.toDF("a", "c"), Seq("a", "c"))
      .select("a", "b", "c")
  }

  /** Incremental exact dedup against a persisted fingerprint store — the
    * production ingestion pattern: each arriving batch keeps only
    * documents whose content hash is new BOTH within the batch (lowest
    * id wins) and against every previously ingested batch, then appends
    * its new hashes to the store.
    *
    * Scale shape: the store holds 16-byte hashes, not documents; the
    * history check is one left-anti hash join (shuffle carries hashes +
    * ids), and the store append is hash-only. A first call bootstraps an
    * empty store. Returns the kept rows. */
  def dedupExactIncremental(newDocs: DataFrame, id: String, text: String,
      storePath: String): DataFrame = {
    val spark = newDocs.sparkSession
    val inBatch = dedupExact(newDocs, id, text).withColumn("__h", md5(col(text)))
    // Bootstrap-empty ONLY when the store path genuinely doesn't exist yet
    // (checked via the filesystem, not by catching reader exceptions): a
    // transient IO error or corrupt footer must fail loudly, not silently
    // disable the history anti-join and re-admit past duplicates.
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store =
      if (fs.exists(hPath)) spark.read.parquet(storePath).select(col("__h"))
      else
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__h",
              org.apache.spark.sql.types.StringType))))
    // Pin the result BEFORE mutating the store — and with a TRUNCATED
    // lineage: a plain persist is not enough, because appending to
    // storePath triggers CacheManager.recacheByPath, which recomputes any
    // cached plan that reads that path — the anti-join would re-run
    // against the just-updated store and filter this batch's own rows
    // away. localCheckpoint replaces the plan with the materialized
    // blocks (no path reference left).
    val kept = inBatch.join(store, Seq("__h"), "left_anti")
      .localCheckpoint(true)
    kept.select("__h").write.mode("append").parquet(storePath)
    kept.drop("__h")
  }

  /** [[dedupExactIncremental]] with a PERSISTED BLOOM PREFILTER — the
    * 100 TB ingestion shape: with billions of hashes in the store, the
    * history anti-join is the cost, and for a mostly-new batch almost
    * none of it is necessary. A Bloom filter over every previously
    * ingested hash rides next to the store; rows the filter has
    * definitely never seen skip the anti-join entirely (no false
    * negatives — Bloom guarantees), so the shuffle carries only the
    * Bloom-positive sliver (true dups + `fpp` of the batch). The batch's
    * new hashes are merged into the filter after each call (same
    * `expectedItems`/`fpp` every batch → compatible `mergeInPlace`;
    * size `expectedItems` to the store's lifetime capacity, since the
    * effective fpp degrades past it).
    *
    * Results are identical to [[dedupExactIncremental]] for any fpp. */
  def dedupExactIncrementalBloom(newDocs: DataFrame, id: String, text: String,
      storePath: String, expectedItems: Long = 10000000L,
      fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    val inBatch = dedupExact(newDocs, id, text).withColumn("__h", md5(col(text)))
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val bloomPath = new org.apache.hadoop.fs.Path(storePath + "_bloom")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bf =
      if (fs.exists(bloomPath)) {
        val in = fs.open(bloomPath)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
      } else if (fs.exists(hPath)) {
        // Store exists but the sidecar is gone (built by the non-Bloom
        // variant, or lost in a partial copy). An empty filter here would
        // mark every row "definitely new" and silently skip the history
        // anti-join — the exact silent-history-loss mode the fs.exists
        // bootstrap check exists to prevent. Rebuild from the store: one
        // scan, and results stay identical for any fpp.
        spark.read.parquet(storePath).stat.bloomFilter("__h", expectedItems, fpp)
      } else org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val maybeSeen = org.apache.spark.sql.functions.udf(
      (h: String) => h != null && bc.value.mightContainString(h))
    val kept =
      if (fs.exists(hPath)) {
        val store = spark.read.parquet(storePath).select(col("__h"))
        val flagged = inBatch.withColumn("__maybe", maybeSeen(col("__h")))
        // definitely-new rows never touch the history join
        flagged.where(!col("__maybe"))
          .unionByName(flagged.where(col("__maybe"))
            .join(store, Seq("__h"), "left_anti"))
          .drop("__maybe")
          .localCheckpoint(true)
      } else inBatch.localCheckpoint(true)
    kept.select("__h").write.mode("append").parquet(storePath)
    // fold this batch's hashes into the filter (built with the same
    // parameters, so the bit arrays are merge-compatible)
    val batchBf = kept.stat.bloomFilter("__h", expectedItems, fpp)
    bf.mergeInPlace(batchBf)
    val out = fs.create(bloomPath, true)
    try bf.writeTo(out) finally out.close()
    kept.drop("__h")
  }

  /** Compact the incremental-dedup fingerprint store. Every
    * [[dedupExactIncremental]]/[[dedupExactIncrementalBloom]] batch
    * APPENDS a few part files, so a long-running ingestion accumulates
    * thousands of tiny files and every history anti-join pays the
    * open-a-file tax. Rewrites the store into `targetPartitions` files
    * via a temp directory + rename (run it between batches — the swap is
    * not atomic under concurrent readers; a production deployment on a
    * table format would get that for free). Hash content — and therefore
    * dedup behavior — is unchanged; the Bloom sidecar is untouched. */
  def compactFingerprintStore(spark: org.apache.spark.sql.SparkSession,
      storePath: String, targetPartitions: Int = 32): Unit = {
    require(targetPartitions >= 1, "targetPartitions must be >= 1")
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hPath), s"no store at $storePath")
    val tmp = new org.apache.hadoop.fs.Path(storePath + "_compact_tmp")
    spark.read.parquet(storePath)
      .repartition(targetPartitions)
      .write.mode("overwrite").parquet(tmp.toString)
    // Swap by renaming the live store ASIDE first: deleting it before the
    // tmp->store rename would mean a failed rename (quota, permissions,
    // cross-FS tmp) loses every past hash and re-admits all historical
    // duplicates. This order leaves the original recoverable at _old.
    val old = new org.apache.hadoop.fs.Path(storePath + "_compact_old")
    fs.delete(old, true)
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(s"rename $hPath -> $old failed")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(old, hPath) // restore the original store
      throw new java.io.IOException(s"rename $tmp -> $hPath failed; original restored")
    }
    fs.delete(old, true)
  }

  /** Corpus-internal duplicate-span profile (CCNet-style paragraph/span
    * dedup adapted to token tiles): cut each document into NON-overlapping
    * `w`-token tiles (full tiles only), count how many DISTINCT documents
    * share each tile, and report per document how much of it is
    * corpus-duplicated — the signal behind "remove spans that appear in
    * ≥ N documents" boilerplate filtering.
    *
    * Shape for 100 TB: tiles are deduplicated PER DOCUMENT in-row
    * (`array_distinct`, narrow — no explode of repeats), so the wide
    * stages carry each (doc, distinct-tile) once: one shuffle for the
    * tile→doc-frequency count (map-side combined, keyed on a hash of the
    * tile, never the tile text), one join of distinct tiles against that
    * frequency table, one groupBy(id) reassembly — `explode_outer` keeps
    * tile-less short docs flowing through, so the input is scanned by
    * this subtree only (no third pass to restore them). `tileHash`
    * defaults to `xxhash64` (8-byte shuffle keys); the oracle twin passes
    * md5 for engine portability — 4× the key bytes, same plan. Returns
    * every input row: (id, n_tiles, n_distinct_tiles, n_dup_tiles,
    * dup_ratio) where dup_ratio = dup/distinct (0 for tile-less docs). */
  def duplicateSpans(df: DataFrame, id: String, text: String,
      w: Int, minDocs: Int,
      tileHash: Column => Column = xxhash64(_)): DataFrame = {
    require(w >= 1 && minDocs >= 2, "need w >= 1, minDocs >= 2")
    val toks = filter(split(trim(col(text)), "\\s+"), t => length(t) > 0)
    val nTiles = (size(col("__toks")) / w).cast("int")
    val exploded = df
      .withColumn("__toks", toks)
      .withColumn("__tiles", transform(
        // guard the sequence, not the result: sequence(0, -1) counts DOWN,
        // and an .otherwise(empty array) branch would pin the element type
        when(nTiles > 0, sequence(lit(0), nTiles - 1))
          .otherwise(array().cast("array<int>")),
        i => tileHash(array_join(slice(col("__toks"), i * w + 1, lit(w)), " "))))
      .select(col(id), size(col("__tiles")).as("n_tiles"),
        explode_outer(array_distinct(col("__tiles"))).as("__tile"))
      // frequency pass + flag rejoin both read the tile table: pin it so
      // the corpus is tokenized + tile-hashed once (r13; the
      // substringDuplicates window-table pattern)
      .localCheckpoint(false)
    val freq = exploded.where(col("__tile").isNotNull)
      .groupBy("__tile").agg(countDistinct(col(id)).as("__docs"))
    exploded
      .join(freq, Seq("__tile"), "left")
      .groupBy(col(id))
      .agg(first(col("n_tiles")).as("n_tiles"),
        count(col("__tile")).as("n_distinct_tiles"),
        sum(when(col("__docs") >= minDocs, 1L).otherwise(0L)).as("n_dup_tiles"))
      .select(col(id), col("n_tiles"), col("n_distinct_tiles"), col("n_dup_tiles"),
        when(col("n_distinct_tiles") > 0,
          col("n_dup_tiles").cast("double") / col("n_distinct_tiles"))
          .otherwise(0.0).as("dup_ratio"))
  }

  /** Cross-document duplicated SUBSTRINGS at ARBITRARY token offsets —
    * the Lee et al. 2022 (arXiv:2107.06499) exact-substring guarantee
    * re-expressed for Spark, closing [[duplicateSpans]]' alignment gap:
    * its w-token tiles are cut at positions 0, w, 2w…, so a duplicated
    * run shorter than 2w−1 tokens can straddle every tile boundary and
    * go unseen (a 49-token copy at offset 1 is invisible to 50-token
    * tiles). Here EVERY token position starts a window (stride 1), so
    * any cross-doc duplicated run of ≥ `w + stride − 1` tokens contains
    * at least one emitted window verbatim and is caught (≥ `w` at the
    * stride-1 default).
    *
    * Pipeline: per doc, hash the w-token window at each start position
    * (`windowHash` of the joined tokens — xxhash64 by default, md5 for
    * the engine-portable oracle); count DISTINCT docs per window hash;
    * windows shared by ≥ `minDocs` docs are duplicated; per doc, merge
    * overlapping-or-adjacent duplicated windows (gap ≤ w) into maximal
    * spans. Returns one row per (doc, span): (id, span_start, span_end,
    * n_windows) — token indices, end exclusive.
    *
    * Scale shape: the window table is ~one row per TOKEN (grain 1) —
    * the honest cost of exact-substring recall (Lee et al. pay the same
    * via suffix arrays). `grain > 1` keeps only windows whose PORTABLE
    * content hash ([[IntHash.stringHash]]) ≡ 0 (mod grain) — 1/grain of
    * the volume. Selection must be CONTENT-keyed, not position-keyed: a
    * positional stride on both sides only matches when the two copies'
    * offsets are congruent mod the stride, so it misses most unaligned
    * runs ENTIRELY regardless of length; content-keyed selection picks
    * the same windows of a shared run in every doc (Manber'94/Broder-
    * style fingerprint sampling). The trade is probabilistic recall: a
    * shared run with k = L−w+1 windows is missed with probability
    * ≈ (1−1/grain)^k, and island boundaries coarsen by up to ~grain
    * tokens at each edge. One map-side-combined frequency pass over
    * window hashes, one hash join back (only DUPLICATED windows reach
    * the island stage — output-sized, not corpus-sized), islands via a
    * per-doc window function (state bounded by a doc's duplicated
    * windows); with grain > 1 islands merge at gap ≤ w + grain so
    * sampled chains don't fragment. WITHIN-doc repeats don't count
    * toward `minDocs` (distinct-doc frequency); in-document repetition
    * is [[graft.ops.TextOps.repetitionStats]]' domain. */
  /** Containment DEDUP — the actionable form of [[containmentJoin]]:
    * drop every document CONTAINED in a bigger one (C(a→b) ≥ threshold
    * with |sh(b)| > |sh(a)|, ties by shingle count to the lower id), keep
    * the containers. This is the quote/excerpt collapse step: a tweet
    * quoting an article, a chunk re-crawled inside its page — cases
    * where keep-one-per-near-dup-cluster never fires because Jaccard
    * stays low. Same scale shape as the join (banded by rare-prefix
    * postings, never all-pairs) plus one id-keyed anti-join. */
  def dedupByContainment(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double): DataFrame = {
    val dropped = containmentJoinWithSizes(df, id, text, n, threshold)
      .where(col("__szb") > col("__sza") ||
        (col("__szb") === col("__sza") && col("id_b") < col("id_a")))
      .select(col("id_a").as(id)).distinct()
    df.join(dropped, Seq(id), "left_anti")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    * — the MOSS algorithm): hash every k-token window, then in each
    * sliding window of `w` consecutive hashes select the MINIMUM
    * (rightmost position on ties). The selection is CONTENT-determined,
    * so two documents sharing any token run of ≥ `w + k − 1` tokens are
    * GUARANTEED to share a selected fingerprint hash (that run contains
    * a full hash-window; its minimum hash is the same value in both
    * docs) — the deterministic counterpart of [[substringDuplicates]]'
    * mod-`grain` sampling, whose recall is probabilistic. Expected
    * fingerprint density is 2/(w+1) of token positions.
    *
    * Returns the distinct (id, pos, h) fingerprint table — match docs by
    * equi-joining on `h` (bucketed, never all-pairs), then verify with
    * [[substringDuplicates]]/[[jaccardSimilarity]] as the task demands.
    * Fully row-local until that join: the per-doc argmin scan is an
    * in-row fold (O(positions · w) expression work — the honest cost of
    * the guarantee; docs are bounded, corpora aren't). The default hash
    * is the engine-portable [[IntHash.stringHash]] (31-bit — collision
    * risk ~n²/2³² per doc pair; pass xxhash64 when cross-engine replay
    * isn't needed). */
  def winnowingFingerprints(df: DataFrame, id: String, text: String,
      k: Int = 3, w: Int = 4,
      windowHash: Column => Column = c => IntHash.stringHash(c)): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val toks = filter(split(trim(col(text)), "\\s+"), t => length(t) > 0)
    val nGram = size(col("__toks")) - k + 1
    val grams = transform(
      when(nGram > 0, sequence(lit(0), nGram - 1))
        .otherwise(array().cast("array<int>")),
      j => windowHash(array_join(slice(col("__toks"), j + 1, lit(k)), " ")))
    val nSel = size(col("__gh")) - w + 1
    // per start s: (min hash, rightmost min position) over gh[s .. s+w-1]
    val picks = transform(
      when(nSel > 0, sequence(lit(0), nSel - 1))
        .otherwise(array().cast("array<int>")),
      s => aggregate(
        zip_with(slice(col("__gh"), s + 1, lit(w)),
          sequence(s, s + w - 1), (h, p) => struct(h.as("h"), p.as("pos"))),
        struct(lit(Long.MaxValue).as("h"), lit(-1).as("pos")),
        (acc, x) => when(x.getField("h") < acc.getField("h") ||
            (x.getField("h") === acc.getField("h") &&
              x.getField("pos") > acc.getField("pos")), x)
          .otherwise(acc)))
    df.withColumn("__toks", toks)
      .withColumn("__gh", grams)
      .select(col(id), explode(array_distinct(picks)).as("__f"))
      .select(col(id), col("__f.pos").as("pos"), col("__f.h").as("h"))
  }

  def substringDuplicates(df: DataFrame, id: String, text: String,
      w: Int, minDocs: Int = 2, grain: Int = 1,
      windowHash: Column => Column = xxhash64(_)): DataFrame = {
    require(w >= 1 && minDocs >= 2 && grain >= 1,
      "need w >= 1, minDocs >= 2, grain >= 1")
    val toks = filter(split(trim(col(text)), "\\s+"), t => length(t) > 0)
    val nWin = size(col("__toks")) - w + 1
    val winTexts = transform(
      when(nWin > 0, sequence(lit(0), nWin - 1))
        .otherwise(array().cast("array<int>")),
      j => struct(j.cast("long").as("pos"),
        array_join(slice(col("__toks"), j + 1, lit(w)), " ").as("wt")))
    val selected =
      if (grain == 1) winTexts
      else filter(winTexts,
        x => pmod(IntHash.stringHash(x.getField("wt")), lit(grain)) === 0)
    // two consumers (the frequency pass and the island rejoin) would
    // otherwise tokenize + window-hash the corpus twice: pin the
    // (id, pos, hash) window table so shingling runs ONCE (r13; same
    // signature-table pattern as minhash/containment)
    val wins = df
      .withColumn("__toks", toks)
      .withColumn("__w", explode(transform(selected,
        x => struct(x.getField("pos").as("pos"),
          windowHash(x.getField("wt")).as("h")))))
      .select(col(id), col("__w.pos").as("__pos"), col("__w.h").as("__h"))
      .localCheckpoint(false)
    val dupHashes = wins.groupBy("__h")
      .agg(countDistinct(col(id)).as("__docs"))
      .where(col("__docs") >= minDocs)
      .select("__h")
    val dup = wins.join(dupHashes, Seq("__h"))
    val byDoc = Window.partitionBy(col(id)).orderBy(col("__pos"))
    // islands merge at gap <= w (+ the expected selection gap under
    // grain sampling, so sampled chains don't fragment)
    val mergeGap = w + (grain - 1)
    dup
      .withColumn("__new", when(
        lag(col("__pos"), 1).over(byDoc).isNull ||
          col("__pos") - lag(col("__pos"), 1).over(byDoc) > mergeGap, 1L).otherwise(0L))
      .withColumn("__island",
        sum(col("__new")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(id), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + w).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(id), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** REMOVAL companion of [[duplicateSpans]] — CCNet actually deletes the
    * duplicated spans, it doesn't just score them: cut each doc into
    * non-overlapping `w`-token tiles, drop every tile that appears in
    * `>= minDocs` distinct docs (at all its positions), and rebuild the
    * text from the surviving tiles plus the sub-tile tail. Rebuilt text
    * is whitespace-normalized (single spaces), like every tokenized path
    * here.
    *
    * Scale shape: one posexplode of per-doc tile TEXTS (output-sized —
    * removal must carry the text, unlike the flags op which shuffles only
    * hashes), one map-side-combined frequency pass over tile hashes, one
    * groupBy(id) ordered reassembly. Returns (id, text_clean,
    * n_tiles_removed). */
  def removeDuplicateSpans(df: DataFrame, id: String, text: String,
      w: Int, minDocs: Int,
      tileHash: Column => Column = xxhash64(_)): DataFrame = {
    require(w >= 1 && minDocs >= 2, "need w >= 1, minDocs >= 2")
    val toks = filter(split(trim(col(text)), "\\s+"), t => length(t) > 0)
    val nTiles = (size(col("__toks")) / w).cast("int")
    val tiled = df
      .withColumn("__toks", toks)
      .withColumn("__tail",
        // exact remainder length: a huge sentinel length overflows
        // slice's start+length int arithmetic and yields an empty slice
        array_join(slice(col("__toks"), nTiles * w + 1,
          size(col("__toks")) - nTiles * w), " "))
      .withColumn("__tileTexts", transform(
        when(nTiles > 0, sequence(lit(0), nTiles - 1))
          .otherwise(array().cast("array<int>")),
        i => array_join(slice(col("__toks"), i * w + 1, lit(w)), " ")))
      .select(col(id), col("__tail"),
        posexplode_outer(col("__tileTexts")).as(Seq("__pos", "__tileText")))
      // guard on the TEXT, not the hash: xxhash64(null) is not null — it
      // ignores null inputs and returns the seed — so the outer-explode
      // placeholder row of every sub-w-token doc would otherwise become a
      // real shared "tile" (one phantom frequency group, and
      // n_tiles_removed = 1 for every short doc once >= minDocs exist)
      .withColumn("__tile",
        when(col("__tileText").isNotNull, tileHash(col("__tileText"))))
      // same two consumers as duplicateSpans — pin so tokenize+tile runs
      // once; this table carries the tile TEXTS (output-sized) (r13)
      .localCheckpoint(false)
    val freq = tiled.where(col("__tile").isNotNull)
      .groupBy("__tile").agg(countDistinct(col(id)).as("__docs"))
    tiled
      .join(freq, Seq("__tile"), "left")
      .withColumn("__keep", col("__tile").isNull || col("__docs") < minDocs)
      .groupBy(col(id))
      .agg(
        sort_array(collect_list(when(col("__keep") && col("__tile").isNotNull,
          struct(col("__pos"), col("__tileText"))))).as("__keptTiles"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_tiles_removed"),
        first(col("__tail")).as("__t"))
      .select(col(id),
        array_join(filter(
          concat(transform(col("__keptTiles"), x => x.getField("__tileText")),
            array(col("__t"))),
          x => length(x) > 0), " ").as("text_clean"),
        col("n_tiles_removed"))
  }

  /** Fuzzy (edit-distance) near-duplicate pairs over a string column:
    * all distinct value pairs within Levenshtein distance `maxDist`.
    *
    * Blocking is a LOSSLESS segment prefilter (PassJoin-style pigeonhole):
    * split each string into `maxDist+1` contiguous segments — `maxDist`
    * edits can touch at most `maxDist` of them, so any partner within
    * distance `maxDist` contains at least one segment VERBATIM, at a
    * start position shifted by at most `maxDist` (the shift is the net
    * insert/delete count before the untouched segment).
    *
    * ALPHABET NOTE: blocking (substr/length) and verification (Spark's
    * `levenshtein`) both operate on Unicode CODE POINTS, so the lossless
    * pigeonhole guarantee holds for any string. DuckDB's `levenshtein`
    * is BYTE-based — identical on ASCII (every oracle corpus) but
    * divergent on non-ASCII text, so a non-ASCII oracle would need a
    * code-point-aware distance on the DuckDB side (pinned by the
    * alphabet spec in CurationStatsSpec). Each value
    * publishes its segments keyed by (length, segment index, xxhash64 of
    * the segment); each value also probes with every substring that could
    * be such a segment of a SHORTER-OR-EQUAL partner in its −maxDist
    * length range (the longer side always probes, so each unordered pair
    * is generated once — twice only on equal lengths, collapsed by the
    * distinct). The equi-join on that 3-part key replaces length banding,
    * whose candidate set is quadratic in band population: segment keys are
    * ~len/(maxDist+1) chars, buckets stay near-singleton, and candidates
    * stay near-linear in the true match count. Hash collisions can only
    * ADD candidates — the exact `levenshtein` verify filters them, so the
    * result set is identical to the unblocked all-pairs filter.
    * Returns (name_a, name_b, dist). */
  def editDistancePairs(df: DataFrame, name: Column, maxDist: Int): DataFrame =
    // verify with the THRESHOLD form of levenshtein (Spark ≥3.5): banded
    // O(len·maxDist) DP that bails as soon as the band exceeds maxDist and
    // returns −1 — on low-entropy vocabularies where blocking admits many
    // near-miss candidates, the verify stage is the dominant cost and the
    // band cuts it from O(len²) per pair. For dist ≤ maxDist the returned
    // value equals the unbounded distance, so output parity is exact.
    editDistanceCandidates(df, name, maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .where(col("dist") >= 0)
      .select(col("name_a"), col("name_b"), col("dist"))

  /** The candidate (pre-`levenshtein`-verify) distinct pairs of
    * [[editDistancePairs]] — exposed so scale probes can measure the
    * blocking's selectivity (candidate count vs true pair count) without
    * paying for the verify. */
  private[graft] def editDistanceCandidates(df: DataFrame, name: Column,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val d = maxDist
    val k = d + 1
    val names = df.select(name.cast("string").as("nm"))
      .where(col("nm").isNotNull).distinct()
    // Even partition of a length-l string into k segments: the first
    // k-(l mod k) take floor(l/k) chars, the rest one more. All arithmetic
    // is on int columns; floor-div via double division is exact here
    // (l, k >= 0 and far below 2^52).
    def base(l: Column) = floor(l / k).cast("int")
    def rem(l: Column) = l % k
    def segLen(l: Column, j: Column) =
      base(l) + when(j >= lit(k) - rem(l), 1).otherwise(0)
    def segStart(l: Column, j: Column) =
      j * base(l) + greatest(lit(0), j - (lit(k) - rem(l))) + 1
    val js = sequence(lit(0), lit(d))
    val segs = names.select(col("nm").as("name_s"),
        explode(transform(js, j => struct(
          length(col("nm")).as("l"), j.as("j"),
          xxhash64(col("nm").substr(segStart(length(col("nm")), j),
            segLen(length(col("nm")), j))).as("sig")))).as("g"))
      .select(col("name_s"), col("g.l").as("l"), col("g.j").as("j"),
        col("g.sig").as("sig"))
    // Probe side, FLAT: the (partner-length delta, segment index, start
    // shift) grid — (d+1)²·(2d+1) entries, all tiny — is a LITERAL array
    // exploded to rows, so each candidate key is one plain-projection
    // xxhash64(substr). The previous nested transform∘flatten∘transform
    // HOF literal compiled into one enormous whole-stage-codegen method
    // whose one-shot JIT cost dominated the whole operator (driver bench
    // 8.1s→26.4s while warm runs stayed ~3s). The generated (l, j, sig)
    // key set is IDENTICAL: dl ∈ [0,d] with l = len−dl ≥ 0 spans the same
    // partner lengths, sh ∈ [−d,d] clamped in-range spans the same
    // candidate starts. Duplicate keys from repeated substrings (formerly
    // array_distinct'ed per name) now survive to the join and are
    // collapsed by the pair-level distinct below — they can only
    // duplicate candidates, never add or drop a pair.
    val grid = typedLit(for (dl <- 0 to d; j <- 0 to d; sh <- -d to d)
      yield (dl, j, sh))
    val lenP = length(col("name_p"))
    val probes = names.select(col("nm").as("name_p"), explode(grid).as("__g"))
      .select(col("name_p"), (lenP - col("__g._1")).as("l"),
        col("__g._2").as("j"), col("__g._3").as("sh"))
      .withColumn("sl", segLen(col("l"), col("j")))
      // candidate start of segment j's image inside this string: the
      // publisher's start shifted by at most d (the net insert/delete
      // count before the untouched segment), kept in-range by the filter
      .withColumn("st", segStart(col("l"), col("j")) + col("sh"))
      .where(col("l") >= 0 && (
        (col("sl") === 0 && col("sh") === 0) ||
        (col("sl") > 0 && col("st") >= 1 &&
          col("st") <= lenP - col("sl") + 1)))
      .select(col("name_p"), col("l"), col("j"),
        when(col("sl") === 0, xxhash64(lit("")))
          .otherwise(xxhash64(col("name_p").substr(col("st"), col("sl"))))
          .as("sig"))
    probes.join(segs, Seq("l", "j", "sig"))
      .where(col("name_p") =!= col("name_s"))
      .select(least(col("name_p"), col("name_s")).as("name_a"),
        greatest(col("name_p"), col("name_s")).as("name_b"))
      .distinct()
  }

  /** Signature rows under which [[nearDupIncremental]] scans the batch
    * and the store on the driver ([[LocalRegime]]). */
  private val LocalNearDupRows = 1 << 14

  /** Incremental NEAR-duplicate dedup against a persisted LSH signature
    * store — the batch twin of
    * [[graft.streaming.StreamingOps.nearDupStream]], for ingestion that
    * arrives in batches instead of a stream. Each call keeps the rows of
    * `newDocs` that are near-duplicates of NOTHING seen before:
    *
    *  - a document is a duplicate iff some EARLIER document (smaller id
    *    in this batch, or any document from a previous batch) shares an
    *    LSH bucket with it AND has exact hashed-shingle-set Jaccard ≥
    *    `threshold` — the stream's exact contract (earlier documents
    *    count even if they were themselves dropped as duplicates, and
    *    every analyzed document enters the store, duplicate or not);
    *  - documents with no shingles (blank / shorter than the shingle
    *    width) pass through unexamined and unstored — their near-dup
    *    Jaccard is 0/0; exact-blank dedup is
    *    [[dedupExactIncremental]]'s job.
    *
    * The store holds one row per analyzed doc: (id, minhash signature,
    * xxhash64'd shingle set) — signatures re-explode to bucket keys on
    * read (narrow), so history candidates are ONE (band, bucket)
    * equi-join, quadratic only within shared buckets, and verification
    * touches candidates only. Store maintenance (append-only part
    * files) composes with [[compactFingerprintStore]]'s pattern. Result
    * is localCheckpoint-pinned before the store append (same
    * recacheByPath hazard as [[dedupExactIncremental]]).
    *
    * Two regimes (the [[connectedComponents]]/[[graft.ops.TextOps.bpeTrain]]
    * split): when [[LocalRegime.collectAtMost]] probes show BOTH the batch
    * and the store fit `LocalNearDupRows` (2^14) signature rows, the
    * identical greedy scan runs on the driver over the collected
    * signatures — same band/bucket
    * candidate keys (sig-slice equality ⟺ the distributed join's
    * hashed-key equality), same `array_intersect` Jaccard arithmetic,
    * same ascending-id "earlier" order — and the store append reuses the
    * collected rows (3 jobs per batch vs ~14: the distributed fixture
    * run was pure scheduling floor, 28 jobs / 75 ms each at sf0.1).
    * Larger batches or stores take the distributed path unchanged;
    * parity is spec-pinned. */
  def nearDupIncremental(newDocs: DataFrame, id: String, text: String,
      storePath: String, threshold: Double, numShingleWords: Int = 3,
      numBands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val spark = newDocs.sparkSession
    val shim = org.apache.spark.sql.graft.MinHashShim
    val base = newDocs.withColumn("__sh0", shingles(col(text), numShingleWords))
    val zero = base.where(size(col("__sh0")) === 0).drop("__sh0")
    val withSh = base.where(size(col("__sh0")) > 0)
      .withColumn("__sh", transform(col("__sh0"), s => xxhash64(s)))
      .withColumn("__sig", shim.minhashCol(col("__sh0"), numBands * rowsPerBand))
      .drop("__sh0")
    def buckets(df: DataFrame): DataFrame = df.select(col(id), col("__sh"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
        xxhash64(array_join(transform(
          slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
          _.cast("string")), ","), b)))
        .as(Seq("band", "bucket")))
    def jac(a: Column, b: Column): Column = {
      val inter = size(array_intersect(a, b)).cast("double")
      inter / (size(a) + size(b) - inter)
    }
    val batchStore = withSh.select(col(id), col("__sig"), col("__sh"))
    val hPath = new org.apache.hadoop.fs.Path(storePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bootstrap-empty ONLY on a genuinely absent store (cf.
    // dedupExactIncremental: IO errors must fail loudly)
    val storeExists = fs.exists(hPath)
    val store =
      if (storeExists) spark.read.parquet(storePath)
      else batchStore.limit(0)
    // small regime: limit-probe the batch, then the store (no probe job
    // at all on a bootstrap-absent store)
    val probes = for {
      batchRows <- LocalRegime.collectAtMost(batchStore, LocalNearDupRows)
      storeRows <-
        if (!storeExists) Some(Array.empty[org.apache.spark.sql.Row])
        else LocalRegime.collectAtMost(
          store.select(col(id), col("__sig"), col("__sh")), LocalNearDupRows)
    } yield (batchRows, storeRows)
    probes match {
      case Some((batchProbe, storeProbe)) =>
        val dupIds = localGreedyNearDups(batchProbe, storeProbe, threshold,
          numBands, rowsPerBand)
        // append the already-collected signatures — no recompute, and the
        // result below carries NO store read in its lineage, so a lazy
        // evaluation after this append cannot self-match
        spark.createDataFrame(
            java.util.Arrays.asList(batchProbe: _*), batchStore.schema)
          .write.mode("append").parquet(storePath)
        val dupF = spark.createDataFrame(
          java.util.Arrays.asList(dupIds.toSeq.map(v =>
            org.apache.spark.sql.Row(v)).toArray: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(id, newDocs.schema(id).dataType))))
        return withSh.join(broadcast(dupF), Seq(id), "left_anti")
          .drop("__sh", "__sig")
          .unionByName(zero)
      case None =>
    }
    val batchBuckets = buckets(withSh)
    // candidate ids (batch doc, earlier doc) from both regimes, deduped
    // BEFORE the shingle-set verification join (the candidate table
    // carries ids only — shingle arrays join back once per unique pair)
    val histCands = batchBuckets.select(col(id), col("band"), col("bucket"))
      .join(buckets(store).select(col(id).as("__eid"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .select(col(id), col("__eid"))
    val inBatchCands = batchBuckets.select(col(id), col("band"), col("bucket"))
      .join(batchBuckets.select(col(id).as("__eid"), col("band"),
        col("bucket")), Seq("band", "bucket"))
      .where(col("__eid") < col(id))
      .select(col(id), col("__eid"))
    val cands = histCands.unionByName(inBatchCands).distinct()
    val earlier = withSh.select(col(id).as("__eid"), col("__sh").as("__esh"))
      .unionByName(store.select(col(id).as("__eid"), col("__sh").as("__esh")))
    val dupIds = cands
      .join(withSh.select(col(id), col("__sh")), Seq(id))
      .join(earlier, Seq("__eid"))
      .where(jac(col("__sh"), col("__esh")) >= threshold)
      .select(col(id)).distinct()
    val kept = withSh.join(dupIds, Seq(id), "left_anti")
      .drop("__sh", "__sig")
      .unionByName(zero)
      .localCheckpoint(true)
    batchStore.write.mode("append").parquet(storePath)
    kept
  }

  /** Driver regime of [[nearDupIncremental]]: the identical greedy
    * earlier-wins scan over collected (id, sig, hashed-shingles) rows.
    * Bucket keys are (band, raw sig slice) — equal slices iff the
    * distributed form's xxhash64'd join keys are equal (the string-cast
    * join of distinct longs is injective; the hash only compresses it).
    * Jaccard replays `size(array_intersect(a,b)) / (|a|+|b|−inter)`
    * exactly: distinct common values over raw lengths. Batch docs are
    * visited ascending by id (Spark's own type orderings via
    * [[Similarity.cellIdLess]]), and every analyzed doc — kept or
    * dropped — becomes "earlier" for the rest, the stream contract. */
  private def localGreedyNearDups(batch: Array[org.apache.spark.sql.Row],
      storeRows: Array[org.apache.spark.sql.Row], threshold: Double,
      numBands: Int, rowsPerBand: Int): Set[Any] = {
    final case class Doc(idVal: Any, rawLen: Int, shSet: Set[Long])
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val buckets = scala.collection.mutable.HashMap
      .empty[(Int, Seq[Long]), scala.collection.mutable.ArrayBuffer[Int]]
    def bandKeys(sig: Seq[Long]): IndexedSeq[(Int, Seq[Long])] =
      (0 until numBands).map(b =>
        (b, sig.slice(b * rowsPerBand, b * rowsPerBand + rowsPerBand)))
    def add(r: org.apache.spark.sql.Row): Unit = {
      val sh = r.getSeq[Long](2)
      val di = docs.length
      docs += Doc(r.get(0), sh.length, sh.toSet)
      bandKeys(r.getSeq[Long](1)).foreach(k =>
        buckets.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += di)
    }
    storeRows.foreach(add)
    def isDupOf(me: Doc, other: Doc): Boolean = {
      var inter = 0
      me.shSet.foreach(h => if (other.shSet.contains(h)) inter += 1)
      inter.toDouble / (me.rawLen + other.rawLen - inter) >= threshold
    }
    val dup = scala.collection.mutable.HashSet.empty[Any]
    batch.sortWith((x, y) => Similarity.cellIdLess(x.get(0), y.get(0)))
      .foreach { r =>
        val sh = r.getSeq[Long](2)
        val me = Doc(r.get(0), sh.length, sh.toSet)
        val cand = scala.collection.mutable.HashSet.empty[Int]
        bandKeys(r.getSeq[Long](1)).foreach(k =>
          buckets.get(k).foreach(_.foreach(cand += _)))
        if (cand.exists(ci => isDupOf(me, docs(ci)))) dup += me.idVal
        add(r)
      }
    dup.toSet
  }

  /** Paragraph-level deduplication (the RefinedWeb / Dolma curation
    * stage): split every document on `sep`, keep only the globally-FIRST
    * occurrence of each distinct paragraph (first = smallest (id, pos)
    * within the corpus), and reassemble each document from its surviving
    * paragraphs in original order. Boilerplate shared across documents
    * (headers, footers, licence blocks, syndicated snippets) survives in
    * exactly one place; a document whose every paragraph was seen earlier
    * collapses to the empty string (kept as a row so the caller can drop
    * or floor-filter it).
    *
    * Paragraphs are trimmed and empty segments are dropped BEFORE
    * dedup, so separator runs / leading separators don't manufacture
    * phantom "" paragraphs that would all collide into one group.
    *
    * Scale shape: two shuffles, both on fine keys — one window over
    * md5(paragraph) for the global first-occurrence rank (paragraph-hash
    * keys: high cardinality, no skew beyond true boilerplate groups,
    * which is exactly the data's own skew), one groupBy on the doc id for
    * reassembly. The shuffled payload carries each paragraph once per
    * occurrence — never the whole corpus per reducer — and there is no
    * driver-side work at all. Content keyed by md5 (128-bit,
    * engine-portable → exact DuckDB twin `dedup_paragraph`).
    *
    * Returns (id, text_clean, n_paras, n_kept) — one row per input row
    * with at least one non-empty paragraph. */
  def dedupParagraphs(df: DataFrame, id: String, text: String,
      sep: String = "\n\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val paras = df
      .select(col(id), posexplode(
        split(col(text), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__para")))
      .withColumn("__para", trim(col("__para")))
      .where(length(col("__para")) > 0)
    val w = Window.partitionBy(md5(col("__para")))
      .orderBy(col(id), col("__pos"))
    paras
      .withColumn("__keep", row_number().over(w) === 1)
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__para"))))),
          x => x.getField("__para")), sep).as("text_clean"))
      .select(col(id), col("text_clean"), col("n_paras"), col("n_kept"))
  }

  /** MinHash-LSH banding parameter sweep (Leskovec, Rajaraman & Ullman,
    * "Mining of Massive Datasets" §3.4.3, the S-curve analysis; the same
    * integration datasketch's `_optimal_param` runs): for every divisor
    * pair (bands b, rows r) with b·r = `numHashes`, the collision
    * probability at Jaccard s is P(s) = 1 − (1 − s^r)^b. Against a target
    * `threshold` t this yields
    *
    *  - false-positive area  ∫₀ᵗ P(s) ds      (sub-threshold pairs that
    *    still collide → wasted verify work),
    *  - false-negative area  ∫ₜ¹ (1 − P(s)) ds (true near-dups the
    *    banding misses → lost recall),
    *  - the S-curve inflection threshold (1/b)^(1/r),
    *  - error = fnWeight·fn + (1 − fnWeight)·fp.
    *
    * Integrated on a fixed `steps`-cell midpoint grid — deterministic
    * arithmetic, engine-portable. The minimal-error row is the (b, r) to
    * deploy; at 100 TB this table is what turns "8 bands × 4 rows" from
    * folklore into a measured choice (FN area is lost data, FP area is
    * verify-join CPU). Pure expression over `spark.range(steps)` crossed
    * with the ≤ d(numHashes) divisor rows — no data scan, no meaningful
    * shuffle (one tiny final aggregation). */
  def lshTune(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      threshold: Double, steps: Int = 1000,
      fnWeight: Double = 0.5): DataFrame = {
    require(numHashes > 0 && numHashes <= 4096,
      s"lshTune: numHashes $numHashes outside (0, 4096]")
    require(threshold > 0 && threshold < 1,
      s"lshTune: threshold $threshold outside (0, 1)")
    require(steps >= 100, s"lshTune: steps $steps < 100")
    require(fnWeight >= 0 && fnWeight <= 1,
      s"lshTune: fnWeight $fnWeight outside [0, 1]")
    import spark.implicits._
    val pairs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b)).toDF("bands", "rows_per_band")
    // midpoint rule: s_i = (i + 0.5)/steps; the grid rides a row-local
    // fold (sequence + aggregate) so the summation order is fixed and
    // identical to the DuckDB twin's list_sum — no shuffle-order float
    // nondeterminism near the 6-dp rounding face.
    def area(include: Column => Column, term: Column => Column): Column = {
      val ds = lit(1.0) / steps
      aggregate(sequence(lit(0), lit(steps - 1)), lit(0.0), (acc, i) => {
        val s = (i.cast("double") + lit(0.5)) * ds
        acc + when(include(s), term(s) * ds).otherwise(lit(0.0))
      })
    }
    def pCollide(s: Column): Column =
      lit(1.0) - pow(lit(1.0) - pow(s, col("rows_per_band")), col("bands"))
    pairs
      .withColumn("fp_area", area(_ < threshold, pCollide))
      .withColumn("fn_area", area(_ >= threshold, s => lit(1.0) - pCollide(s)))
      .select(col("bands"), col("rows_per_band"),
        round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 6).as("inflection"),
        round(col("fp_area"), 6).as("fp_area"),
        round(col("fn_area"), 6).as("fn_area"),
        round(lit(fnWeight) * col("fn_area")
          + lit(1.0 - fnWeight) * col("fp_area"), 6).as("error"))
      .orderBy("bands")
  }
}

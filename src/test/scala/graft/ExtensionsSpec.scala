package graft

import org.apache.spark.sql.SparkSessionExtensions

/** graft_dot / graft_l2norm must be callable from SQL. The extensions
  * class only applies to sessions created AFTER it's configured (one
  * SparkContext per test JVM), so the live-session path uses
  * VectorShim.register and the extensions class is exercised against a
  * fresh SparkSessionExtensions instance. */
class ExtensionsSpec extends SparkSpec {

  test("VectorShim.register makes the native functions SQL-callable on a live session") {
    org.apache.spark.sql.graft.VectorShim.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d,
        |       graft_l2norm(array(3.0D, 4.0D)) AS n""".stripMargin).head()
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == 5.0)
    // null propagation through the native expressions
    val n = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))").head()
    assert(n.isNullAt(0))
    // text-side natives are SQL-callable too
    val t = spark.sql(
      """SELECT graft_jaccard(array('a','b'), array('b','c')) AS j,
        |       size(graft_shingles('a b c d', 2)) AS ns,
        |       size(graft_minhash(graft_shingles('a b c d', 2), 16)) AS nh""".stripMargin).head()
    assert(approx(t.getDouble(0), 1.0 / 3))
    assert(t.getInt(1) == 3 && t.getInt(2) == 16)
  }

  test("GraftExtensions injects the functions into a SparkSessionExtensions instance") {
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // must not throw
  }

  test("native shingles/minhash are bit-identical to the HOF forms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "a b", "", "  one  two   three four  ").toDF("text")
    // HOF reference forms (the pre-native implementations)
    def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(trim(text), "\\s+")
      val count = size(toks) - (n - 1)
      when(length(trim(text)) > 0 && count >= 1,
        array_distinct(transform(sequence(lit(1), count), i =>
          array_join(slice(toks, i, lit(n)), " "))))
        .otherwise(array().cast("array<string>"))
    }
    def hofMinhash(sh: org.apache.spark.sql.Column, numHashes: Int) =
      transform(sequence(lit(0), lit(numHashes - 1)), p =>
        coalesce(array_min(transform(sh, s => xxhash64(s, p))), lit(Long.MaxValue)))
    val rows = df.select(
      graft.ops.Dedup.shingles(col("text"), 3).as("nat_sh"),
      hofShingles(col("text"), 3).as("hof_sh"),
      graft.ops.Dedup.minhashSignature(col("text"), 3, 8).as("nat_sig"),
      hofMinhash(hofShingles(col("text"), 3), 8).as("hof_sig")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "shingles diverge")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "minhash diverges")
    }
    // non-distinct form (DSIR's bag-of-features): same HOF minus the
    // array_distinct — duplicates survive in first-occurrence order
    def hofShinglesAll(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(trim(text), "\\s+")
      val count = size(toks) - (n - 1)
      when(length(trim(text)) > 0 && count >= 1,
        transform(sequence(lit(1), count), i =>
          array_join(slice(toks, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }
    val dupDf = Seq("a b a b a", "x x x", "one", "").toDF("text")
    dupDf.select(
      org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(col("text"), 2).as("nat"),
      hofShinglesAll(col("text"), 2).as("hof")).collect()
      .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        "non-distinct shingles diverge"))
  }

  test("native stringHash31/simhash equal the HOF forms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.IntHash
    // incl. supplementary-plane chars: the hash alphabet is CODE POINTS
    // (what Spark's split("")/ascii and DuckDB's unicode() both yield) —
    // a UTF-16 charAt loop would diverge on the emoji rows
    val df = Seq("hello", "", "a b c", "the quick brown fox", "ümlaut töken",
      "😀 emoji", "数据 🎉 test").toDF("t")
    // NB: guarded for "" — `split("", "")` yields [""] (one bogus fold
    // step), whereas the native loop and the DuckDB twin (range over
    // length 0) fold zero characters. The native behavior is the
    // spec'd one; empty tokens never reach stringHash in the operators.
    def hofStringHash(s: org.apache.spark.sql.Column) =
      when(length(s) === 0, lit(IntHash.scrambleLong(0L)))
        .otherwise(IntHash.scramble(aggregate(
          transform(split(s, ""), c => ascii(c).cast("long")),
          lit(0L),
          (h, cp) => pmod(lit(IntHash.A) * h + lit(IntHash.B) + cp, lit(IntHash.M)))))
    def hofSimhash(text: org.apache.spark.sql.Column) = {
      val hashes = transform(split(trim(text), "\\s+"), t => hofStringHash(t))
      aggregate(sequence(lit(0), lit(30)), lit(0L), (acc, b) => {
        val vote = aggregate(hashes, lit(0),
          (v, h) => v + when(call_function("getbit", h, b) === 1, 1).otherwise(-1))
        acc + when(vote > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)
      })
    }
    val rows = df.select(
      IntHash.stringHash(col("t")).as("nat_h"), hofStringHash(col("t")).as("hof_h"),
      graft.ops.Dedup.simhash(col("t")).as("nat_s"), hofSimhash(col("t")).as("hof_s")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "stringHash diverges")
      assert(r.getLong(2) == r.getLong(3), "simhash diverges")
    }
  }

  test("native charstats equal the regex forms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("Hello, World! 123", "", "a.b,c;d", "NO punct HERE 9",
      "weird  \t spacing !!", "ümlaut's 42nd-str").toDF("t")
    val n = length(col("t")).cast("double")
    def ratio(p: String) = when(n > 0,
      (n - length(regexp_replace(col("t"), p, ""))) / n).otherwise(0.0)
    val stats = org.apache.spark.sql.graft.MinHashShim.charStatsCol(col("t"))
    val rows = df.select(
      stats.getField("n_punct").as("np"),
      (n - length(regexp_replace(col("t"), "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\]^_`{|}~]", ""))).cast("int").as("rp"),
      stats.getField("n_digit").as("nd"),
      (n - length(regexp_replace(col("t"), "[0-9]", ""))).cast("int").as("rd"),
      stats.getField("n_upper").as("nu"),
      (n - length(regexp_replace(col("t"), "[A-Z]", ""))).cast("int").as("ru"),
      stats.getField("n_subwords").as("ns"),
      size(regexp_extract_all(col("t"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).as("rs"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"punct: $r")
      assert(r.getInt(2) == r.getInt(3), s"digit: $r")
      assert(r.getInt(4) == r.getInt(5), s"upper: $r")
      assert(r.getInt(6) == r.getInt(7), s"subwords: $r")
    }
  }

  test("native beta_inv equals driver-side commons-math on a quantile grid") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.commons.math3.distribution.BetaDistribution
    // quantile grid: CP-shaped (integer a,b) and fractional shapes,
    // tails included — exact equality expected (same library, executors
    // vs driver).
    val grid = for {
      p <- Seq(0.001, 0.025, 0.25, 0.5, 0.75, 0.975, 0.999)
      (a, b) <- Seq((1.0, 1.0), (5.0, 96.0), (6.0, 95.0), (0.5, 0.5), (2.5, 7.5), (100.0, 1.0))
    } yield (p, a, b)
    val rows = grid.toDF("p", "a", "b")
      .select(col("p"), col("a"), col("b"),
        graft.functions.VectorFunctions.betaInv(col("p"), col("a"), col("b")).as("q"))
      .collect()
    rows.foreach { r =>
      val expected = new BetaDistribution(null, r.getDouble(1), r.getDouble(2))
        .inverseCumulativeProbability(r.getDouble(0))
      assert(r.getDouble(3) == expected, s"beta_inv diverges at $r")
    }
    // endpoints and scipy-style domain: p outside [0,1] or a,b <= 0 -> NaN
    val e = Seq((0.0, 2.0, 3.0), (1.0, 2.0, 3.0), (-0.1, 2.0, 3.0),
      (1.1, 2.0, 3.0), (0.5, 0.0, 3.0), (0.5, 2.0, -1.0)).toDF("p", "a", "b")
      .select(graft.functions.VectorFunctions.betaInv(col("p"), col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(e(0) == 0.0 && e(1) == 1.0)
    assert(e.drop(2).forall(_.isNaN))
    // SQL-callable + null propagation
    org.apache.spark.sql.graft.VectorShim.register(spark)
    val s = spark.sql(
      "SELECT graft_beta_inv(0.5D, 2.0D, 2.0D), graft_beta_inv(CAST(NULL AS DOUBLE), 2.0D, 2.0D)").head()
    assert(s.getDouble(0) == 0.5 && s.isNullAt(1))
  }

  test("distributed Clopper-Pearson columns equal the driver scalar form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.BinaryOperational
    val cases = Seq((0L, 50L), (5L, 100L), (50L, 50L), (3L, 7L), (0L, 0L))
    // the Clopper–Pearson bounds as columns over the native graft_beta_inv,
    // with the scalar form's edge cases
    import graft.functions.VectorFunctions.betaInv
    val (fpD, nD) = (col("fp").cast("double"), col("n").cast("double"))
    val lo = when(col("n") === 0, lit(Double.NaN)).when(col("fp") === 0, lit(0.0))
      .otherwise(betaInv(lit(0.025), fpD, nD - fpD + 1.0))
    val hi = when(col("n") === 0, lit(Double.NaN)).when(col("fp") === col("n"), lit(1.0))
      .otherwise(betaInv(lit(0.975), fpD + 1.0, nD - fpD))
    val got = cases.toDF("fp", "n").select(col("fp"), col("n"), lo.as("lo"), hi.as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    got.foreach { case (fp, n, gLo, gHi) =>
      val (eLo, eHi) = BinaryOperational.clopperPearson(fp, n)
      assert((gLo == eLo || (gLo.isNaN && eLo.isNaN)) &&
        (gHi == eHi || (gHi.isNaN && eHi.isNaN)),
        s"CP diverges at fp=$fp n=$n: ($gLo,$gHi) vs ($eLo,$eHi)")
    }
  }

  test("native jaccard equals the array_intersect/array_union form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("b")),
      (Seq("x", "x", "y"), Seq("y", "z", "z"))).toDF("a", "b")
    val rows = df.select(
      org.apache.spark.sql.graft.MinHashShim.jaccardCol(col("a"), col("b")).as("nat"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }
}

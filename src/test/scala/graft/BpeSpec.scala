package graft

import org.apache.spark.sql.functions._
import graft.ops.{LocalRegime, TextOps}

/** BPE merge training + encoding ([[TextOps.bpeTrain]]/[[TextOps.bpeEncode]]).
  *
  * The headline fixture is the worked example from Sennrich et al. 2016
  * §3.2 (low/lower/newest/widest), with the merge order fully
  * hand-derived under the documented tie-break (max count, then UTF-8
  * lexicographic smallest pair):
  *
  *   round 1: e-s 9, s-t 9, t-</w> 9 tie → (e,s)
  *   round 2: es-t 9, t-</w> 9 tie     → (es,t)
  *   round 3: est-</w> 9               → (est,</w>)
  *   round 4: l-o 7, o-w 7 tie         → (l,o)
  *   round 5: lo-w 7                   → (lo,w)
  *
  * and encoding the unseen word "lowest" with those 5 rules yields the
  * paper's classic segmentation low · est</w>.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def sennrich = {
    val docs =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
  }

  test("bpeTrain: Sennrich fixture merges in the hand-derived order") {
    val merges = TextOps.bpeTrain(sennrich, col("text"), nMerges = 5)
    assert(merges == Seq("e" -> "s", "es" -> "t", "est" -> "</w>",
      "l" -> "o", "lo" -> "w"))
  }

  test("bpeTrain: local == distributed merge-for-merge") {
    val local = TextOps.bpeTrain(sennrich, col("text"), nMerges = 5)
    // distributedOnly forces the distributed loop on the same corpus
    val dist = LocalRegime.distributedOnly(
      TextOps.bpeTrain(sennrich, col("text"), nMerges = 5))
    assert(local == dist)
  }

  test("bpeTrain: stops early when no pairs remain") {
    val tiny = Seq((1L, "a b")).toDF("id", "text")
    // "a" → [a,</w>] and "b" → [b,</w>]; after 2 merges every word is a
    // single symbol — requesting 10 rules must return just those 2
    val merges = TextOps.bpeTrain(tiny, col("text"), nMerges = 10)
    assert(merges == Seq("a" -> "</w>", "b" -> "</w>"))
  }

  test("bpeEncode: paper segmentation of an unseen word; null text -> empty") {
    val merges = TextOps.bpeTrain(sennrich, col("text"), nMerges = 5)
    val df = Seq((1L, "lowest"), (2L, "low low"), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = TextOps.bpeEncode(df, col("text"), merges)
      .select(col("id"), col("bpe_tokens"), col("bpe_tokens_n"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    // l o w e s t </w> → es → est → est</w> → lo · w · est</w> → low · est</w>
    assert(out(1L) == (Seq("low", "est</w>"), 2L))
    // "low" itself: l o w </w> → (l,o) → (lo,w) → [low, </w>]
    assert(out(2L) == (Seq("low", "</w>", "low", "</w>"), 4L))
    assert(out(3L) == (Seq.empty[String], 0L))
  }

  test("bpeMergeWord: left-to-right non-overlapping") {
    assert(TextOps.bpeMergeWord(Array("a", "b", "a", "b"), "a", "b").toSeq ==
      Seq("ab", "ab"))
    assert(TextOps.bpeMergeWord(Array("a", "a", "a"), "a", "a").toSeq ==
      Seq("aa", "a"))
  }
}

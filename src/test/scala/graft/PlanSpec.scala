package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the scale properties the engine is
  * designed around (broadcast dim joins, parquet pushdown + pruning,
  * top-k pushdown, narrow robustness ops, no stray wide exchanges) must
  * survive refactors — a correct-but-reshuffling plan is a regression
  * even when results match. Asserted on sf0.001 (plan shape is
  * data-size-independent below the broadcast threshold). */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.explainString(SimpleMode)

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(SimpleMode)

  test("q_join_dims: every dim join broadcasts; filters/pruning reach the scans") {
    val p = plan("q_join_dims")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
    assert(!p.contains("SortMergeJoin"))
    // orders scan prunes to the 2 needed columns and pushes the join-key null filter
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"))
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey)]"))
  }

  test("dedup_jaccard_pairs: id predicate pushed to parquet, schema pruned") {
    val p = plan("dedup_jaccard_pairs")
    assert(p.contains("LessThan(doc_id,120)"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("dsir_weights: ratio table broadcasts; dist subtree computed once; scans pruned per pass") {
    val p = plan("dsir_weights")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the bucket->log-ratio model joins by BROADCAST — the gram stream
    // must never shuffle on the bucket key
    assert(p.contains("BroadcastHashJoin"), p)
    // scoring pass reads (doc_id, text) with the output filter PUSHED
    // THROUGH the per-doc aggregate to the scan; distribution pass reads
    // (text, lang) only — doc_id pruned out
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]"), p)
    assert(p.contains("ReadSchema: struct<text:string,lang:string>"), p)
    // the totals ride a window over the bounded dist table, so the
    // corpus-scanning dist subtree appears exactly once (2 scans total:
    // 1 scoring + 1 distribution + 0 duplicated totals)
    assert("FileScan parquet".r.findAllIn(p).size == 2, p)
  }

  test("dedup_semantic: literal argmin assignment is narrow; pairwise join keyed by cell, no cartesian") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // 4 cells x dim 64 = 256 <= DefaultMaxLiteralTerms: the assignment
    // must take the narrow literal least() path (no assignment join —
    // the only joins are the cell-keyed pairwise and the dup-flag
    // rejoin, which AQE sizes at runtime)
    assert(p.contains("least("), p)
  }

  test("q_topk: limit collapses into TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ann_ivf: no sort-merge join; per-query top-k is group-limited; assignment is narrow") {
    val p = plan("ann_ivf")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p) // rank<=k pushed below the window
    // 16 cells × dim 32 = 512 terms > DefaultMaxLiteralTerms, so the
    // assignment takes the native argmin path: strictly per-row, no
    // join/shuffle/aggregate (the former broadcast-join + groupBy argmin
    // sort-aggregated N·nCells rows — the 10M-probe OOM, SCALE.md; the
    // round-8 interpreted literal-array fold was ~5× slower per row).
    // The only wide exchanges left are the per-query top-k window hash
    // and the presentation sort — probe ranking is now a narrow
    // array_sort projection over the query rows, not a window.
    assert(p.contains("graft_nearest_centroid"), p) // native argmin, in a Project
    val wide = "Exchange (hash|range|Single)".r.findAllIn(p).size
    assert(wide <= 2, s"expected <=2 wide exchanges, got $wide:\n$p")
  }

  test("ann_ivfpq_rerank: the full-vector rerank probe broadcasts the shortlist, never shuffling the corpus") {
    val p = plan("ann_ivfpq_rerank")
    assert(!p.contains("SortMergeJoin"), p)
    // the rerank's corpus probe must be a broadcast hash join (shortlist
    // side), not an exchange of the embeddings scan
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("WindowGroupLimit"), p) // rank<=k pushed below the window
  }

  test("Sources load paths contain no un-partitioned Window.orderBy (single-partition cliff)") {
    // S2/S4 row-index timestamps must come from the distributed index, not
    // a global row_number window — a SinglePartition exchange at LOAD time
    // is the first stage to fall over at 100×. The distributed form's
    // plans go through RDD passes, so simply assert the logical plans are
    // free of Window operators with an empty partition spec.
    val tmp = java.nio.file.Files.createTempDirectory("graft_srcplan")
    val csv = tmp.resolve("h.csv")
    java.nio.file.Files.write(csv,
      "a,b,State,time\n1,2,charging,9\n3,4,idle,10\n".getBytes)
    val (host, _) = graft.sources.Sources.loadHost(spark, csv.toString)
    // no time-ish column in the CSV → exercises the row-index fallback
    val net = graft.sources.Sources.loadNetwork(spark, csv.toString, timeCol = "nope_absent")
    for (df <- Seq(host, net)) {
      val windows = df.queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"un-partitioned Window in load plan:\n${df.queryExecution.analyzed}")
    }
    // and the results still carry the dense 0-based row index
    assert(host.select("timestamp").collect().map(_.getDouble(0)).sorted.toSeq == Seq(0.0, 1.0))
  }

  test("decontaminate: benchmark side broadcasts; no sort-merge join") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // corpus scan prunes to (doc_id, text)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("sample_stratified: hash-filter is pushed into the scan stage (no pre-shuffle)") {
    val p = plan("sample_stratified")
    // the keep decision is a pure projection + filter — the ONLY wide
    // exchanges are the final groupBy and presentation sort
    val wide = "Exchange (hash|range|Single)".r.findAllIn(p).size
    assert(wide <= 2, s"expected <=2 wide exchanges, got $wide:\n$p")
  }

  test("robustness degradations are narrow: zero exchanges over an in-memory frame") {
    val wins = Seq((1L, Seq(Seq(1.0), Seq(2.0))), (2L, Seq(Seq(3.0), Seq(4.0))))
      .toDF("win_id", "window")
    val p = planOf(wins.select(
      graft.ops.Robustness.packetLoss(col("window"), col("win_id"), 0.3, 42L).as("d1"),
      graft.ops.Robustness.drift(col("window"), col("win_id"), 0.2, 42L).as("d2")))
    assert(!p.contains("Exchange"), p)
  }

  test("label encode transform broadcasts the dictionary") {
    val df = Seq("a", "b", "a").toDF("cls")
    val enc = graft.ops.Labels.fitLabelEncoder(df, "cls")
    val p = planOf(graft.ops.Labels.encodeLabel(df, enc, "cls"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sample_weighted: top-k collapses into TakeOrderedAndProject (no global sort)") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("text_vocabulary: one map-side-combined count pass + TakeOrdered top-N") {
    val p = plan("text_vocabulary")
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("g_ewma: exactly one full-data exchange (the group-key hash)") {
    // Stats.ewma itself: hash exchange on the key + in-partition sort +
    // MapGroups. The query's presentation orderBy adds a range exchange —
    // assert on the op alone.
    val ev = graft.queries.Q.table(spark, dir, "events")
      .withColumn("ts_us", col("ts"))
    val p = planOf(graft.ops.Stats.ewma(ev, "user_id", Seq("ts_us", "event_id"),
      "value", 0.3))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(p.contains("MapGroups"), p)
  }

  test("g_kfold / foldAssign: pure narrow projection (no exchange before the agg)") {
    val df = (1L to 100L).toDF("id")
    val p = planOf(df.withColumn("f",
      graft.ops.Stats.foldAssign(col("id"), 5, 17L)))
    assert(!p.contains("Exchange"), p)
  }

  test("q_cohort: first-activity join keys on user; no cartesian, no broadcast of the fact side") {
    val p = plan("q_cohort")
    assert(!p.contains("CartesianProduct"), p)
    // events scan prunes to the two needed columns (the ts physical type
    // varies by testdata generation — see Q.normalizeTs — the pin here is
    // the PRUNING, not the encoding)
    assert("ReadSchema: struct<ts:[a-z_]+,user_id:bigint>".r
      .findFirstIn(p).isDefined, p)
  }

  test("retrieval_maxsim: queries broadcast to the corpus; corpus only shuffles for the per-query window") {
    val p = plan("retrieval_maxsim")
    // the 3-query side is the broadcast build; the corpus is never the
    // build side and never sort-merge-joined
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // both scans prune to (vec_id, embedding) with the id filter pushed
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,300)]"), p)
  }

  test("linkage_fellegi_sunter: blocking join broadcasts; record scan pruned + pushed") {
    val p = plan("linkage_fellegi_sunter")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), LessThan(p_partkey,300), IsNotNull(p_brand)]"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_brand:string,p_type:string,p_size:int,p_retailprice:double>"), p)
    // the pattern collapse partial-aggregates map-side before its exchange
    assert(p.contains("partial_count"), p)
  }

  test("corpus_diff: snapshots collapse to (id, md5) before the full-outer join") {
    val p = plan("corpus_diff")
    // full-outer cannot broadcast — the sort-merge join is the correct
    // scale shape, and both scans read only (doc_id, text)
    assert("SortMergeJoin .*FullOuter".r.findFirstIn(p).isDefined, p)
    assert("ReadSchema: struct<doc_id:bigint,text:string>".r.findAllIn(p).size == 2, p)
    assert(p.contains("GreaterThanOrEqual(doc_id,150)"), p)
  }

  test("rocCurve: the only full-data pass is the map-side-combined groupBy(score)") {
    val scored = graft.queries.Q.scoredEvents(spark, dir)
    val p = planOf(graft.ops.Curves.collapse(scored, Nil, col("y_true"), col("score")))
    // partial_sum before the exchange = map-side combine on the raw scan,
    // and exactly one hash exchange of the full data; the curve itself is
    // walked on the driver, so rocCurve returns a local relation
    assert(p.contains("partial_sum"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Window"), p)
    assert(graft.ops.Curves.rocCurve(scored, col("y_true"), col("score")).isLocal)
  }

  test("dedup_containment: candidate join is hash-keyed on the shingle — no cartesian; per-doc rank window is id-partitioned") {
    val df = SparkEntry.queries("dedup_containment")(spark, dir)
    val p = planOf(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-doc rarest-first rank must not be a global (un-partitioned)
    // window — same cliff the source loaders guard against
    val windows = df.queryExecution.analyzed.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty), p)
  }

  test("dedup_split_leakage / text_token_augment / text_wordlist_filter: doc_id predicate pushed to the scan") {
    for (q <- Seq("dedup_split_leakage", "text_token_augment", "text_wordlist_filter")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert("LessThan\\(doc_id,(120|100|200)\\)".r.findFirstIn(p).isDefined, s"$q: $p")
    }
  }

  test("bitext_margin: k-NN legs and the margin rank all group-limit; candidate sorts carry no vectors") {
    val p = plan("bitext_margin")
    assert(!p.contains("CartesianProduct"), p)
    // the rank-1-by-margin window keeps its partial+final
    // WindowGroupLimit pair (rank<=k pushed below the sort); the two
    // knnJoin legs now sit behind lazy checkpoints (r12 — each leg feeds
    // two consumers and must run once), so their group limits are pinned
    // on the leg's OWN plan below instead of the downstream plan
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    val embT = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val leg = planOf(graft.ops.Similarity.knnJoin(
      embT.where(col("vec_id") >= 150)
        .select(col("vec_id").as("src_id"), col("v")),
      "src_id", "v",
      embT.where(col("vec_id") < 150),
      "vec_id", "v", k = 4, nCells = 4, nProbe = 4, iters = 0,
      byHash = false))
    assert("WindowGroupLimit".r.findAllIn(leg).size >= 2, leg)
    // the explicit pre-window projection keeps the dim-wide vectors out
    // of every top-k sort (the 300k-probe disk-blowup fix, SCALE.md) —
    // no Sort step may list a vector column (in either plan)
    val sortLines = (p.linesIterator ++ leg.linesIterator)
      .filter(_.contains("+- Sort ")).toSeq
    assert(sortLines.nonEmpty &&
      sortLines.forall(l => !l.contains("__rv") && !l.contains("v#")), p)
    // the candidate ⋈ per-side-average joins are corpus-sized on BOTH
    // sides (one avg row per left/right row) — sort-merge is the CORRECT
    // plan there, so no no-SMJ pin; the scale property is the group
    // limits plus vector-free sorts above
  }

  test("embedding_drift_js: corpora reduce via narrow assignment scans; only cell-sized joins") {
    val p = plan("embedding_drift_js")
    assert(!p.contains("CartesianProduct"), p)
    // each corpus folds straight into a cell-keyed count — no join or
    // explode touches corpus rows before the aggregation
    assert("HashAggregate\\(keys=\\[cell_id".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("posexplode"), p)
    // the 1-row totals crossJoin broadcasts (everything after the counts
    // is nCells-sized; the full-outer cell join cannot broadcast by
    // definition and is bounded by nCells anyway)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("retrieval_rbo: prefix join is hash-keyed; no cartesian beyond the rankings") {
    val p = plan("retrieval_rbo")
    assert(!p.contains("CartesianProduct"), p)
    // the (qid, doc) prefix intersection and the qid-universe left join
    // both stay on already-top-k-sized inputs — group limits bound them
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("corpus_report: ONE cached projection feeds all three aggregation branches") {
    val p = plan("corpus_report")
    // all three union branches read the InMemoryRelation, not the parquet
    // (explain prints the cached FileScan inside each InMemoryRelation
    // definition, so the parquet line appearing per-branch is expected —
    // the pin is that every branch goes through an InMemoryTableScan)
    assert("InMemoryTableScan".r.findAllIn(p).size == 3, p)
  }

  test("g_mannwhitney: the rank window reads the distinct-value aggregate, never raw rows") {
    val p = plan("g_mannwhitney")
    // one Window only, and the sole full-data pass is the map-side-
    // combined groupBy(value) feeding it — the ROC-curve collapse shape
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val winAt = p.indexOf("Window")
    val aggAt = p.lastIndexOf("HashAggregate")
    assert(winAt >= 0 && aggAt > winAt, p) // aggregate below the window
  }

  test("g_chi2_drift / g_t_closeness: marginal grids broadcast; no sort-merge join") {
    Seq("g_chi2_drift", "g_t_closeness").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      // the domain cross-join is the broadcast of a cell-sized aggregate
      assert(p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
    }
  }

  test("embedding_matryoshka: ONE fused corpus pass; legs read the pinned top-k") {
    // r13 fusion: all |dims|+1 budget rankings ride one corpus×queries
    // pass (native prefix dots/norms), checkpointed at bounded top-k
    // size — the final plan must join two reads of that LogicalRDD leaf,
    // with no parquet re-scan and no cartesian anywhere
    val p = plan("embedding_matryoshka")
    assert("Scan ExistingRDD".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scd2_build: both windows share ONE key exchange; no join anywhere") {
    val p = plan("scd2_build")
    // lag (change detect) and lead (interval close) are both windows over
    // the same (key, order) — the log must shuffle exactly once
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 1, p)
    assert("Window ".r.findAllIn(p).size == 2, p)
    assert(!p.contains("Join"), p)
  }

  test("cdc_merge: the log collapses under one window; one outer join applies it") {
    val p = plan("cdc_merge")
    assert("Window ".r.findAllIn(p).size == 1, p)
    assert("FullOuter".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sft_flatten: ONE aggregation on the conversation key, no window, no join") {
    val p = plan("sft_flatten")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(conv_id".r.findAllIn(p).size == 1, p)
  }

  test("dq_constraints: row-local rules fuse into one aggregation; FK side broadcasts") {
    val p = plan("dq_constraints")
    // exactly one corpus-wide aggregation pair for the 6 fused rules
    // (the count-distinct rewrite adds an Expand, not extra scans) and
    // the FK anti-join must not sort-merge
    assert(!p.contains("SortMergeJoin"), p)
    assert("LeftAnti".r.findAllIn(p).size <= 1, p)
  }

  test("retrieval_rm3: expanded vocabulary is a literal InSet prefilter, no rescore windows beyond top-k") {
    val p = plan("retrieval_rm3")
    // the rescore postings scan filters on the collected literal term
    // set (isin → In/InSet), never a join against a lazy expansion table
    assert(!p.contains("SortMergeJoin"), p)
    assert("Window ".r.findAllIn(p).size == 1, p) // the final top-k only
  }

  test("retrieval_ql: broadcasts only, one corpus-sized window, literal InSet postings prefilter") {
    val p = plan("retrieval_ql")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("Window ".r.findAllIn(p).size == 1, p) // the final top-k only
  }

  test("pack_length_sorted: both windows partition by the shard — no global sort of the corpus") {
    val p = plan("pack_length_sorted")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p)
    // every window spec carries the shard key (the internal __shard
    // alias of the lang column); an empty partitionBy would funnel the
    // corpus through one task
    assert(winLines.forall(_.contains("__shard")), winLines.mkString("\n"))
  }

  test("g_kaplan_meier / g_gini_tokens: windows sit ABOVE the collapsing aggregate") {
    Seq("g_kaplan_meier", "g_gini_tokens").foreach { q =>
      val p = plan(q)
      // the distinct-time/group collapse must happen before any window
      // touches rows — aggregate below, window above
      val winAt = p.indexOf("Window")
      val aggAt = p.lastIndexOf("HashAggregate")
      assert(winAt >= 0 && aggAt > winAt, s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("g_spearman: rank tables join the checkpointed cell collapse — no " +
      "corpus re-scan, no sort-merge join") {
    val p = plan("g_spearman")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the (x, y) cell collapse is checkpointed: every branch reads the
    // materialized RDD, so the corpus parquet scan never re-appears
    assert(!p.contains("Scan parquet"), p)
  }

  test("g_skew_report: two aggregations, no window, no join — pure count algebra") {
    val p = plan("g_skew_report")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // both stages map-side combine (the struct-min tiebreak downgrades
    // the final stage to SortAggregate — still partial'd); only the
    // grouping column is read from parquet
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_min(struct"), p)
    assert(p.contains("ReadSchema: struct<event_type:string>"), p)
  }

  test("g_ipw_ate / g_did: one fused aggregation chain — no window, no join") {
    for (q <- Seq("g_ipw_ate", "g_did")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q\n$p")
      assert(!p.contains("Join"), s"$q\n$p")
      assert(p.contains("partial_"), s"$q\n$p")
    }
  }

  test("sample_negatives: the draw stage is shuffle-free off the fitted CDF") {
    // everything after the (bounded) fit is scan -> project: the hash,
    // mod, binary-search lookup, and explode are all narrow. One
    // exchange total — the final orderBy's range partitioning.
    val p = plan("sample_negatives")
    assert(!p.contains("Join"), p)
    assert("Exchange".r.findAllIn(p).size <= 2, p) // rangepartition (+AQE shuffle read)
    assert(p.contains("graft_cdf_index"), p) // the native lookup is IN the plan
  }

  test("g_attribution: ONE entity-partitioned window, no join, no global sort") {
    val p = plan("g_attribution")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    // the window exchange hashes on the entity key, never a single partition
    assert(p.contains("hashpartitioning(k#"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("g_quantile_ci / g_nelson_aalen: windows sit above the collapsing aggregate") {
    for (q <- Seq("g_quantile_ci", "g_nelson_aalen")) {
      val p = plan(q)
      // the raw scan feeds an aggregate BEFORE any window (ROC-collapse)
      val aggIdx = p.indexOf("partial_")
      val winIdx = p.indexOf("Window")
      assert(aggIdx >= 0 && winIdx >= 0, s"$q\n$p")
    }
  }

  test("graph_walks: every step joins broadcast or hash — no cartesian") {
    val p = plan("graph_walks")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("g_mcnemar: one fused 4-counter aggregation — no window, no join") {
    val p = plan("g_mcnemar")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_sum"), p) // map-side combined
  }

  test("g_kendall_tau: the statistic computes eagerly off the persisted " +
    "cell collapse; the returned face is driver-local") {
    // the concordance join and margin reduces run as eager actions over
    // the bounded persisted cell table inside the op (pair work is
    // cells², never rows²) — the RETURNED one-row frame must therefore
    // be a local relation with no corpus operator above it
    val p = plan("g_kendall_tau")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"), p)
    assert(!p.contains("parquet"),
      s"corpus scan leaked into the tau face:\n$p")
  }

  test("eval_bradley_terry: corpus work is ONE grid aggregation; the " +
    "rating table is a driver-local scan") {
    // the MM loop runs on the collected bounded grid, so the final
    // frame must be a LocalTableScan/LocalRelation (+ the rank window
    // over k rows) — no corpus-sized operator above it
    val p = plan("eval_bradley_terry")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"), p)
    assert(!p.contains("parquet"), s"corpus scan leaked into the rating frame:\n$p")
  }

  test("eval_token_f1: overlap joins are keyed (id, token) — " +
    "no cartesian, no broadcast of the corpus") {
    val p = plan("eval_token_f1")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}

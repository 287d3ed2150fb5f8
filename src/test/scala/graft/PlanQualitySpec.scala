package graft

/** Plan-shape assertions — the 100 TB safety net. These pin the physical
  * properties that make the queries scale (pushdown, pruning, broadcast,
  * top-k) so a refactor that silently regresses one fails loudly.
  */
class PlanQualitySpec extends SparkSpec with RegistrySweep {

  private val dir = "/root/testdata/sf0.001"

  /** The '== Final Plan ==' sections of every cached subtree the plan
    * references (one nesting level of cache-inside-cache included).
    * Shared-session suites can substitute an InMemoryRelation under any
    * persistOnce subtree (the documented suite race): a pin that greps
    * only the outer plan either loses its positive witness or silently
    * passes a negative one. An AQE cachedPlan prints '== Initial Plan =='
    * too — keep the final section only, or pre-AQE nodes (e.g. an SMJ
    * that AQE turned into a broadcast) false-trip negative pins.
    * Extracted from the hand-rolled q128/q129 and q243 walks (the r12
    * flake class) so the next pin cannot re-invent it wrong. */
  private def cachedFinalText(
      qe: org.apache.spark.sql.execution.QueryExecution): String = {
    def finalSection(t: String): String = t.indexOf("== Initial Plan ==") match {
      case -1 => t
      case i  => t.substring(0, i)
    }
    qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val nested = r.cachedPlan.collect {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            finalSection(s.relation.cachedPlan.toString)
        }
        (finalSection(r.cachedPlan.toString) +: nested).mkString("\n")
    }.mkString("\n")
  }

  /** Formatted + executed plan text PLUS [[cachedFinalText]], so every
    * pin sees the plan that actually runs in ANY suite order. */
  private def plan(name: String): String = {
    val qe = QueryRegistry.byName(name).run(spark, dir).queryExecution
    // formatted mode prints PushedFilters/ReadSchema untruncated
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) +
      "\n" + qe.executedPlan.toString + "\n" + cachedFinalText(qe)
  }

  test("q02: predicates push into the parquet scan") {
    val p = plan("q02_filter_predicates")
    assert(p.contains("GreaterThanOrEqual(p_size,10)"), s"p_size range not pushed:\n$p")
    assert(p.contains("In(p_type"), s"p_type IN not pushed:\n$p")
    assert(p.contains("StringContains(p_name,o)"), s"LIKE %o% not pushed:\n$p")
  }

  test("q03: column pruning reaches the scan (5 of 11 lineitem columns)") {
    val p = plan("q03_projection")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse(fail(s"no FileScan in\n$p"))
    val cols = scanCols.split(",").map(_.trim.split("#")(0)).toSet
    assert(cols === Set("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_shipdate"),
      s"scan reads wrong columns: $cols")
  }

  test("q21: small dims join via BroadcastHashJoin, no shuffle of the fact side") {
    val p = plan("q21_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"expected 2 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$p")
  }

  test("q07: top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q07_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrderedAndProject:\n$p")
  }

  test("q22: merge hint yields SortMergeJoin for the large-large join") {
    val p = plan("q22_join_sortmerge")
    assert(p.contains("SortMergeJoin"), s"no SMJ:\n$p")
  }

  test("q26: tiny band table broadcasts under the non-equi join") {
    val p = plan("q26_join_range_bands")
    assert(p.contains("BroadcastNestedLoopJoin"), s"range join shape:\n$p")
  }

  test("q01: aggregate is partial->final hash aggregate") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("q29: bucketed join runs with no exchange on either fact side") {
    val df = QueryRegistry.byName("q29_bucketed_join").run(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // eager aggregation (PushAggThroughJoin) pre-collapses lineitem by
    // l_orderkey below the join, and the bucketed layout means neither
    // the pushed aggregate, nor the join, needs an exchange: the ONLY
    // exchange in the whole plan is the final regroup by o_orderpriority.
    import org.apache.spark.sql.catalyst.plans.logical
    val pushedBelowJoin = df.queryExecution.optimizedPlan.collect {
      case j: logical.Join
          if Seq(j.left, j.right).exists(_.isInstanceOf[logical.Aggregate]) => j
    }
    assert(pushedBelowJoin.nonEmpty,
      s"partial agg not pushed below the join:\n${df.queryExecution.optimizedPlan}")
    val joinPos = Seq(p.indexOf("SortMergeJoin"), p.indexOf("ShuffledHashJoin")).filter(_ >= 0)
    assert(joinPos.nonEmpty, p)
    assert(!p.substring(joinPos.min).contains("Exchange"),
      s"bucketed join (or the pushed agg below it) still shuffles:\n$p")
    // two exchanges total: the final-agg regroup + the orderBy range
    // partitioning; none at or below the join
    assert("Exchange".r.findAllIn(p).size === 2, s"expected exactly 2 exchanges:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan not bucketed:\n$p")
  }

  test("q124: interval join runs as a shuffled equi-join on bins, no nested loop") {
    val p = plan("q124_interval_bin_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bin join degraded to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no equi join on bins:\n$p")
  }

  test("q125: substring dedup is equi-join + anti-join, partial-agg'd, no nested loop") {
    val p = plan("q125_substring_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span cut degraded to a nested loop:\n$p")
    // the dup-gram aggregate must combine map-side (partial_count before
    // the gram shuffle), and the position cut must be a real anti join
    assert(p.contains("partial_count"), s"gram df aggregate not partial-agg'd:\n$p")
    assert(p.contains("LeftAnti"), s"position cut is not an anti join:\n$p")
  }

  test("q126: centroid table broadcasts under the distance join") {
    val p = plan("q126_nearest_centroid")
    assert(p.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"distance pass went cartesian:\n$p")
  }

  test("q76: partition filter prunes at the source (PartitionFilters)") {
    val p = plan("q76_partition_pruning")
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*o_orderstatus[^\\]]*\\].*"),
      s"no partition pruning:\n$p")
  }

  test("q61: ANN scan broadcasts the query side, streams candidates once") {
    val p = plan("q61_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
  }

  test("q128/q129: merge plans an anti join; the CDC diff is ONE full-outer sort-merge") {
    val pMerge = plan("q128_merge_upsert")
    assert(pMerge.contains("LeftAnti"), s"merge kept-rows path is not an anti join:\n$pMerge")
    assert(!pMerge.contains("CartesianProduct"), s"merge went cartesian:\n$pMerge")
    val diffQe = QueryRegistry.byName("q129_snapshot_diff").run(spark, dir).queryExecution
    // The diff subtree is persisted (MaintenanceQueries persistOnce) —
    // count the full-outer in the logical plan AND in the cached-final
    // text (cachedFinalText: the centralized suite-race look-through).
    val fullOuters = diffQe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter => j
    }
    val cachedText = cachedFinalText(diffQe)
    val nFullOuter = fullOuters.size + "FullOuter".r.findAllIn(cachedText).length
    assert(nFullOuter === 1, s"diff must be ONE full-outer join:\n${diffQe.optimizedPlan}")
    val physText = diffQe.executedPlan.toString + "\n" + cachedText
    assert("SortMergeJoin.*FullOuter".r.findFirstIn(physText).isDefined,
      s"diff is not a full-outer sort-merge:\n$physText")
  }

  test("analysis wing: prefix-sum statistics never fall back to a window sort") {
    // The whole point of PrefixSum/globalRank is that no single-partition
    // window appears anywhere in these plans; the 1-row totals attach via
    // BroadcastNestedLoopJoin (1 x n, bounded), never CartesianProduct.
    for (n <- Seq("q174_ks_drift", "q175_roc_auc", "q180_calibration")) {
      val p = plan(n)
      assert(!p.contains("Window"), s"$n fell back to a window sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
    }
    // q178 keeps its per-source windows (grouped, partition-parallel) but
    // the global pick must be an equi-join on k, and q173's closing edge
    // match an equi-join on the canonical pair — no cartesian anywhere.
    for (n <- Seq("q173_triangle_count", "q176_rrf_fusion", "q178_quantile_norm")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
    }
    // The round-10 binned tiers: same contract as the exact statistics
    // (bin assignment is one sketch aggregation + a broadcast of <= bins
    // boundaries; cumulative counts through PrefixSum) — no window, no
    // cartesian.
    for (n <- Seq("q183_ks_binned", "q184_auc_binned")) {
      val p = plan(n)
      assert(!p.contains("Window"), s"$n fell back to a window sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
    }
  }

  test("round-10 drift wing: categorical statistics never sort, order-free ops never window") {
    // TVD/chi-square need NO order at all — one partial-agg'd shuffle to
    // per-category counts plus a broadcast totals row; a Window or a
    // global Sort in these plans would mean the implementation regressed
    // to a cumulative pass it does not need. q192 (W1) and q194 (panel)
    // keep the PrefixSum contract: no window, no cartesian.
    for (n <- Seq("q189_tvd_drift", "q190_chi2_drift", "q193_source_concentration")) {
      val p = plan(n)
      assert(!p.contains("Window"), s"$n grew a window it does not need:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
      assert(p.contains("partial_sum") || p.contains("partial_count"),
        s"$n counts are not partial-agg'd:\n$p")
    }
    for (n <- Seq("q192_w1_drift", "q194_drift_panel", "q191_source_tvd")) {
      val p = plan(n)
      assert(!p.contains("Window"), s"$n fell back to a window sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
    }
  }

  test("q196/q197: governance audit and target encoding stay join-light") {
    // k-anonymity: two hash aggregates, nothing else — no join at all.
    val ka = plan("q196_kanon_audit")
    assert(!ka.contains("Join"), s"k-anonymity audit grew a join:\n$ka")
    assert(!ka.contains("Window"), s"k-anonymity audit grew a window:\n$ka")
    // LOO encoding: the category dictionary comes back on a broadcast
    // equi-join (5 priorities), the global fallback on a 1-row broadcast
    // nested loop — no window, no cartesian, no sort-merge on a
    // dictionary AQE should broadcast.
    val loo = plan("q197_loo_target_encode")
    assert(!loo.contains("Window"), s"LOO encoding grew a window:\n$loo")
    assert(!loo.contains("CartesianProduct"), s"LOO encoding went cartesian:\n$loo")
    assert(loo.contains("BroadcastHashJoin"), s"category join not broadcast:\n$loo")
  }

  test("q198/q199: sequence wing windows stay grouped and lag joins stay equi") {
    // Transition matrix: the per-user lead is a GROUPED window (its sort
    // rides the user_id hash exchange — never a global Sort before it),
    // the (from, to) grid is partial-agg'd, and the marginal comes back
    // on an equi-join (tiny: |event types| rows — AQE broadcasts it).
    val tm = plan("q198_transition_matrix")
    assert(tm.contains("Window"), s"transition pairs lost the grouped window:\n$tm")
    assert(tm.contains("hashpartitioning(user_id"),
      s"lead window not partitioned by user:\n$tm")
    assert(!tm.contains("CartesianProduct"), s"marginal join went cartesian:\n$tm")
    assert(tm.contains("partial_count"), s"pair grid not partial-agg'd:\n$tm")
    // Lag autocorrelation: daily sums partial-agg'd, the lag-7 match is a
    // plain equi-join on (g, d) — no window anywhere (the lag is a JOIN,
    // not a lead over a per-group sort: the daily frame is already tiny).
    val ac = plan("q199_lag_autocorr")
    assert(!ac.contains("Window"), s"lag join degraded to a window:\n$ac")
    assert(!ac.contains("CartesianProduct"), s"lag join went cartesian:\n$ac")
    assert(ac.contains("partial_sum"), s"daily sums not partial-agg'd:\n$ac")
  }

  test("q200-q203: sequence-wing statistics keep one grouped exchange and broadcast joins") {
    // Trigrams: the two leads share ONE grouped window pass (one exchange
    // on user_id) and the top-15 plans as TakeOrderedAndProject — never a
    // global sort of the |types|^3 grid.
    val tg = plan("q200_journey_trigrams")
    assert(tg.contains("TakeOrderedAndProject"), s"top-15 became a global sort:\n$tg")
    assert(tg.contains("hashpartitioning(user_id"),
      s"lead window not partitioned by user:\n$tg")
    assert("""\(\d+\) Exchange""".r.findAllIn(tg).size <= 2,
      s"trigrams grew extra shuffles:\n$tg")
    // CUSUM: cumulative pass is a window GROUPED by series; the argmax is
    // one max(struct) aggregate (never a second window over the diffs).
    val cp = plan("q201_cusum_changepoint")
    assert(cp.contains("hashpartitioning(g"), s"cumulative window not grouped by series:\n$cp")
    assert(!cp.contains("CartesianProduct"), s"total join went cartesian:\n$cp")
    // Spearman: the day-aligned pair frame enters ONE (ga, gb) exchange
    // that all four rank/tie windows ride — the rank passes re-sort but
    // never re-shuffle.
    val sp = plan("q202_spearman_pairs")
    assert(!sp.contains("CartesianProduct"), s"day alignment went cartesian:\n$sp")
    assert(sp.contains("hashpartitioning(ga"), s"rank windows not grouped by pair:\n$sp")
    // Mann-Kendall: every join (pair self-join on g + residual d<d', ties,
    // n) broadcasts — the daily frame is days x series tiny by contract.
    val mk = plan("q203_mann_kendall")
    assert(!mk.contains("CartesianProduct") && !mk.contains("NestedLoop"),
      s"pair join went cartesian:\n$mk")
    assert(mk.contains("BroadcastHashJoin"), s"pair join not broadcast:\n$mk")
    assert(mk.contains("partial_sum"), s"sign sum not partial-agg'd:\n$mk")
  }

  test("q204-q207: calibration/governance wing plan shapes") {
    // Isotonic: every window is the BoundedWindow constant-key kind over
    // the post-aggregate decile frame — the raw-row side contributes one
    // range exchange (globalRank) and the decile aggregate; the minimax
    // joins run over <= |buckets|^2 rows.
    val is = plan("q204_isotonic_calibration")
    assert(is.contains("partial_count") || is.contains("partial_sum"),
      s"decile frame not partial-agg'd:\n$is")
    // Conformal: the order statistic is a GROUPED row_number window.
    val cf = plan("q205_conformal_threshold")
    assert(cf.contains("hashpartitioning(g"), s"rank window not grouped:\n$cf")
    assert(!cf.contains("CartesianProduct"), s"threshold join went cartesian:\n$cf")
    // Erasure sweep: all key-equi joins, the erased-order frame cached.
    val er = plan("q206_erasure_sweep")
    assert(!er.contains("CartesianProduct") && !er.contains("NestedLoop"),
      s"sweep join degraded:\n$er")
    assert(er.contains("InMemoryTableScan"), s"erased-order frame not reused:\n$er")
    // Benford: the digit grid is one partial-agg'd scan, total broadcast.
    val bf = plan("q207_benford_audit")
    assert(bf.contains("partial_count"), s"digit counts not partial-agg'd:\n$bf")
    assert(bf.contains("BroadcastNestedLoopJoin") || bf.contains("BroadcastExchange"),
      s"total attach not broadcast:\n$bf")
  }

  test("q220-q231 second round-10 wing: grouped windows only, no cartesians, partial aggs") {
    // CvM rides the PrefixSum contract exactly like KS: no window sort,
    // no cartesian (the 1-row totals attach by broadcast).
    val cvm = plan("q220_cvm_drift")
    assert(!cvm.contains("Window"), s"q220 fell back to a window sort:\n$cvm")
    assert(!cvm.contains("CartesianProduct"), s"q220 went cartesian:\n$cvm")
    // Runs test / Kendall / winnowing: their windows must stay GROUPED
    // (sort rides a hash exchange on the series/doc key, never a global
    // single-partition sort), joins equi, grids partial-agg'd.
    for ((n, key) <- Seq(
      "q221_runs_test" -> "hashpartitioning(g",
      "q222_kendall_pairs" -> "hashpartitioning(d",
      "q228_winnow_overlap" -> "hashpartitioning(id")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
      assert(p.contains(key) || p.contains("partial_"), s"$n lost its grouped exchange:\n$p")
    }
    // Expectations: the row-local rules are ONE scan -> ONE partial-agg'd
    // reduction; uniqueness/FK add their own passes but nothing windows
    // and nothing goes cartesian.
    val ex = plan("q223_expectations")
    assert(!ex.contains("Window"), s"q223 grew a window:\n$ex")
    assert(!ex.contains("CartesianProduct"), s"q223 went cartesian:\n$ex")
    assert(ex.contains("partial_count") || ex.contains("partial_sum"),
      s"q223 row rules not partial-agg'd:\n$ex")
    // Pure-aggregate statistics: no windows, no cartesians, partial aggs.
    for (n <- Seq("q224_mh_odds_ratio", "q225_fano_burstiness",
      "q227_table_digest", "q229_assortativity", "q230_modularity",
      "q231_ams_joinsize")) {
      val p = plan(n)
      assert(!p.contains("Window"), s"$n grew a window it does not need:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
      assert(p.contains("partial_"), s"$n is not partial-agg'd:\n$p")
    }
  }

  test("r11 wing: prefix-filter join stays equi+grouped, sketches partial-agg, HITS equi-joins") {
    // q234: the prefix row_number window must ride a GROUPED exchange on
    // the set id (never a global sort), every join equi, no cartesian.
    val pp = plan("q234_ppjoin_exact")
    assert(!pp.contains("CartesianProduct"), s"q234 went cartesian:\n$pp")
    assert(pp.contains("hashpartitioning(id"), s"q234 prefix window lost its grouped exchange:\n$pp")
    // q235/q238: sketch build and sliced digests are one partial-agg'd
    // reduction each — no window, no cartesian.
    for (n <- Seq("q235_countmin_freq", "q236_mcnemar", "q238_digest_drilldown")) {
      val p = plan(n)
      assert(!p.contains("Window"), s"$n grew a window:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n went cartesian:\n$p")
      assert(p.contains("partial_"), s"$n is not partial-agg'd:\n$p")
    }
    // q237: the ranking must be the distributed globalRank (range
    // exchange), not a single-partition window over raw rows; the only
    // Window sits over the 10-row decile aggregate.
    val lg = plan("q237_lift_gains")
    assert(lg.contains("rangepartitioning"), s"q237 lost its range-exchange rank:\n$lg")
    assert(!lg.contains("CartesianProduct"), s"q237 went cartesian:\n$lg")
    // q239: the half-rounds execute inside eager localCheckpoints (the
    // LabelProp lineage contract), so the FINAL plan only shows the
    // score attach joins and the top-k — pin those (no cartesian, a real
    // top-k), and pin the half-round shape on the operator directly: one
    // round over an un-checkpointed edge frame must plan its score sum
    // as a partial aggregate with the 1-row max attached by broadcast.
    val h = plan("q239_hits")
    assert(!h.contains("CartesianProduct"), s"q239 went cartesian:\n$h")
    assert(h.contains("TakeOrderedAndProject"), s"q239 top-20 not TakeOrdered:\n$h")
    // q242: membership must be the one-shuffle graft_bottom_k aggregate
    // (O(strata × budget) out of each map task), NEVER a raw-row
    // row_number window partitioned by the 5-value stratum key — that
    // serializes the corpus into one sort task per stratum at the
    // design point. The only windows allowed are the bounded
    // apportionment ranks (ordered by -rem over the strata frame); a
    // raw-row membership window would order by the md5-based hash60.
    val ns = plan("q242_neyman_stratified")
    assert(ns.contains("partial_graft_bottom_k"),
      s"q242 membership lost its partial-agg'd bottom-k:\n$ns")
    assert(!ns.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && l.contains("md5")),
      s"q242 grew a raw-row hash-rank window:\n$ns")
    // q243: the KN model is pure partial-agg'd counts + BY-TYPE equi
    // joins + a 1-row broadcast — no window over anything, no cartesian
    // of two unbounded sides.
    val kn = plan("q243_kn_bigram_xent")
    assert(!kn.contains("Window"), s"q243 grew a window:\n$kn")
    assert(!kn.contains("CartesianProduct"), s"q243 went cartesian:\n$kn")
    assert(kn.contains("partial_"), s"q243 is not partial-agg'd:\n$kn")
    // column pruning: the documents scan must read (doc_id, text) only —
    // plan() already looks through any persistOnce cache substitution.
    assert(kn.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"q243 reads more than (doc_id, text) from the documents scan:\n$kn")
    val edges = spark.range(200).selectExpr("id % 20 as src", "100 + id % 13 as dst")
    val hub = edges.selectExpr("src", "cast(1000000 as bigint) as s").distinct()
    val round = edges.join(hub, "src")
      .groupBy("dst").agg(org.apache.spark.sql.functions.sum("s").as("raw"))
    val rp = round.queryExecution.executedPlan.toString
    assert(rp.contains("partial_sum"), s"HITS half-round sum not partial-agg'd:\n$rp")
  }

  test("r13 wing: PrefixSpan joins stay sid-keyed equi, DSIR models broadcast") {
    // q244 (r15): below the row bound the miner routes to the driver
    // tier (LocalTierSpec pins tier equality), so the FINAL plan is the
    // local relation behind the total order — pin the route + no
    // cartesian on the query, and pin the distributed loop contract
    // (every join sid-keyed equi, aggregates partial'd) on the operator
    // directly, forced distributed with LocalTier.forcingDistributed.
    val ps = plan("q244_seq_patterns")
    assert(!ps.contains("CartesianProduct"), s"q244 went cartesian:\n$ps")
    assert(ps.contains("LocalTableScan"), s"q244 lost the driver-tier route:\n$ps")
    val evSyn = spark.range(400).selectExpr(
      "cast(id % 40 as string) as sid", "cast(id % 5 as string) as e",
      "cast(id div 40 + 1 as long) as pos")
    val psQe = graft.operators.LocalTier.forcingDistributed(graft.operators.PrefixSpan
      .frequentPatterns(evSyn, 30, 3)).queryExecution
    val psDist = psQe.executedPlan.toString + cachedFinalText(psQe)
    assert(!psDist.contains("CartesianProduct"),
      s"PrefixSpan distributed tier went cartesian:\n$psDist")
    assert(psDist.contains("partial_count") || psDist.contains("partial_min"),
      s"PrefixSpan occurrence counts not partial-agg'd:\n$psDist")
    assert(psDist.contains("hashpartitioning(sid"),
      s"PrefixSpan lost its sid-keyed exchange:\n$psDist")
    // q245: the bucket LMs join back as BROADCASTS (<= 4096 rows each),
    // the per-(doc,bucket) count is the one corpus-scale partial agg, and
    // the draw is the native bottom-k (partial-agg'd, O(k) per map task).
    val ds = plan("q245_dsir_resample")
    assert(!ds.contains("CartesianProduct"), s"q245 went cartesian:\n$ds")
    assert(ds.contains("BroadcastHashJoin"), s"q245 bucket model not broadcast:\n$ds")
    assert(ds.contains("partial_count"), s"q245 bucket counts not partial-agg'd:\n$ds")
    assert(ds.contains("graft_bottom_k"), s"q245 draw lost the native bottom-k:\n$ds")
    // column pruning, pinned drift-proof (negative form — the events ts
    // encoding varies across driver testdata regens, so a full
    // ReadSchema equality would flake on the next drift): q244 must not
    // drag the unused events payload columns to the scan, q245 must not
    // read documents columns beyond (doc_id, text, lang).
    assert(!ps.contains("props") && !ps.contains("value:double"),
      s"q244 reads unused events columns:\n$ps")
    assert(!ds.contains("n_chars") && !ds.contains("source"),
      s"q245 reads unused documents columns:\n$ds")
    // q246: routes to the driver tier like q244; the distributed
    // occurrence-LIST loop contract (sid-keyed equi joins, partial'd
    // distinct/support aggregates) pins on the operator, forced
    // distributed.
    val pg = plan("q246_seq_patterns_gap")
    assert(!pg.contains("CartesianProduct"), s"q246 went cartesian:\n$pg")
    assert(pg.contains("LocalTableScan"), s"q246 lost the driver-tier route:\n$pg")
    val pgQe = graft.operators.LocalTier.forcingDistributed(graft.operators.PrefixSpan
      .frequentPatternsMaxGap(evSyn, 25, 3, 2)).queryExecution
    val pgDist = pgQe.executedPlan.toString + cachedFinalText(pgQe)
    assert(!pgDist.contains("CartesianProduct"),
      s"PrefixSpan gap tier went cartesian:\n$pgDist")
    assert(pgDist.contains("hashpartitioning(sid"),
      s"PrefixSpan gap tier lost its sid-keyed exchange:\n$pgDist")
  }

  test("r13 second wing: graph rounds equi, rollups partial-agg'd, models broadcast") {
    // q247 (r15): routes to the driver tier below the edge bound
    // (LocalTierSpec pins tier equality); the distributed Bellman–Ford
    // contract (frontier-keyed equi join + partial-agg'd min(struct)
    // fold, no cartesian) pins on the operator, forced distributed.
    val sp = plan("q247_sssp_cheapest_route")
    assert(!sp.contains("CartesianProduct"), s"q247 went cartesian:\n$sp")
    assert(sp.contains("LocalTableScan"), s"q247 lost the driver-tier route:\n$sp")
    val spSyn = spark.range(300).selectExpr(
      "id % 40 as src", "(id * 7) % 40 as dst", "1L + id % 9 as w")
      .filter("src <> dst")
    // Each round's state is a checkpoint, so the returned frame plans as
    // a scan: read the executed plans of the call's round jobs instead.
    val (_, spActions) = ActionPlans.during(spark)(graft.operators.LocalTier
      .forcingDistributed(graft.operators.Sssp.distances(spSyn, 0L, 3)))
    val spDist = spActions.map { case (_, qe) => qe.executedPlan.toString }.mkString("\n")
    assert(!spDist.contains("CartesianProduct"),
      s"Sssp distributed tier went cartesian:\n$spDist")
    assert(spDist.contains("partial_min"),
      s"Sssp min fold not partial-agg'd:\n$spDist")
    // q248: pair counts stay partial-agg'd equi joins, the per-item cut
    // is the native bottom-k aggregate (never a window sort over the
    // pair frame), and the scan leaves the unused lineitem payload
    // behind (drift-proof negative form, the q244 idiom).
    val cv = plan("q248_covisit_topk")
    assert(!cv.contains("CartesianProduct"), s"q248 went cartesian:\n$cv")
    assert(cv.contains("graft_bottom_k"), s"q248 lost the native bottom-k:\n$cv")
    assert(!cv.contains("windowspecdefinition"), s"q248 grew a window sort:\n$cv")
    assert(!cv.contains("l_extendedprice") && !cv.contains("l_shipdate"),
      s"q248 reads unused lineitem columns:\n$cv")
    // q249: the chunk windows partition on doc_id (no global sort), the
    // chunk/summary aggregates are partial-agg'd, and the documents scan
    // reads only (doc_id, text, source).
    val cd = plan("q249_cdc_chunk_dedup")
    assert(cd.contains("windowspecdefinition(doc_id"),
      s"q249 chunk window not doc-partitioned:\n$cd")
    assert(cd.contains("partial_count"), s"q249 summary not partial-agg'd:\n$cd")
    assert(!cd.contains("n_chars") && !cd.contains("lang"),
      s"q249 reads unused documents columns:\n$cd")
    // q250: the field-weight vector attaches as a 1-row broadcast
    // (BroadcastNestedLoopJoin — the bounded crossJoin form), never an
    // unbounded cartesian; value counts are partial-agg'd.
    val fs = plan("q250_fs_linkage")
    assert(!fs.contains("CartesianProduct"), s"q250 went cartesian:\n$fs")
    assert(fs.contains("BroadcastNestedLoopJoin"),
      s"q250 weight vector not broadcast-attached:\n$fs")
    assert(fs.contains("partial_count"), s"q250 value counts not partial-agg'd:\n$fs")
    // q251 (r15): routes to the driver tier below the row bound
    // (LocalTierSpec pins tier equality); the distributed bid-keyed
    // level loop pins on the operator, forced distributed.
    val ap = plan("q251_itemsets_apriori")
    assert(!ap.contains("CartesianProduct"), s"q251 went cartesian:\n$ap")
    assert(ap.contains("LocalTableScan"), s"q251 lost the driver-tier route:\n$ap")
    val apSyn = spark.range(300).selectExpr(
      "cast(id % 60 as string) as bid", "cast(id % 6 as string) as item")
    val apQe = graft.operators.LocalTier.forcingDistributed(graft.operators.Apriori
      .frequentItemsets(apSyn, 10, 3)).queryExecution
    val apDist = apQe.executedPlan.toString + cachedFinalText(apQe)
    assert(!apDist.contains("CartesianProduct"),
      s"Apriori distributed tier went cartesian:\n$apDist")
    assert(apDist.contains("hashpartitioning(bid"),
      s"Apriori lost its bid-keyed exchange:\n$apDist")
    // q252: the ONLY corpus-scale pass is the partial-agg'd daily
    // graft_hll sketch; everything after runs on the day×register frame.
    val sh = plan("q252_sliding_hll")
    assert(sh.contains("graft_hll"), s"q252 lost the native HLL aggregate:\n$sh")
    assert(sh.contains("partial_"), s"q252 daily sketch not partial-agg'd:\n$sh")
    assert(!sh.contains("props") && !sh.contains("value:double"),
      s"q252 reads unused events columns:\n$sh")
    // q253: one corpus-scale pair count, then equi joins over the
    // broadcast-scale model frame — no cartesian anywhere.
    val mk = plan("q253_absorb_funnel")
    assert(!mk.contains("CartesianProduct"), s"q253 went cartesian:\n$mk")
    assert(mk.contains("partial_count"), s"q253 pair count not partial-agg'd:\n$mk")
    assert(!mk.contains("props") && !mk.contains("value:double"),
      s"q253 reads unused events columns:\n$mk")
  }

  test("r13 third wing: bootstrap one-pass, NDCG/PMI bottom-k, JSD broadcast totals") {
    // q254: the 64 replicates ride ONE corpus pass — the (g, r) sums are
    // partial-agg'd before the shuffle, the order statistics are the
    // native bottom-k aggregate (never a window over replicate rows),
    // and the lineitem scan leaves the price/date payload behind.
    val bs = plan("q254_bootstrap_ci")
    assert(!bs.contains("CartesianProduct"), s"q254 went cartesian:\n$bs")
    assert(bs.contains("partial_sum"), s"q254 replicate sums not partial-agg'd:\n$bs")
    assert(bs.contains("graft_bottom_k"), s"q254 lost the native order statistic:\n$bs")
    assert(!bs.contains("windowspecdefinition"), s"q254 grew a window sort:\n$bs")
    assert(!bs.contains("l_extendedprice") && !bs.contains("l_shipdate"),
      s"q254 reads unused lineitem columns:\n$bs")
    // q255: BOTH top-5 lists are bottom-k aggregates out of one groupBy —
    // no per-customer window sort anywhere in the plan.
    val nd = plan("q255_ndcg_ranking")
    assert(!nd.contains("CartesianProduct"), s"q255 went cartesian:\n$nd")
    assert(nd.contains("graft_bottom_k"), s"q255 lost the native top-k:\n$nd")
    assert(!nd.contains("windowspecdefinition"), s"q255 grew a window sort:\n$nd")
    // q256: per-category counts partial-aggregate, the 1-row totals
    // attach as a broadcast (BroadcastNestedLoopJoin — the bounded
    // crossJoin form), never an unbounded cartesian.
    val js = plan("q256_js_drift")
    assert(!js.contains("CartesianProduct"), s"q256 went cartesian:\n$js")
    assert(js.contains("BroadcastNestedLoopJoin"),
      s"q256 totals not broadcast-attached:\n$js")
    assert(js.contains("partial_sum"), s"q256 category counts not partial-agg'd:\n$js")
    // q257: bigram counts partial-aggregate, N attaches as a 1-row
    // broadcast, the top-20 is the native bottom-k (no corpus window
    // sort), and the documents scan reads text only.
    val pm = plan("q257_pmi_collocations")
    assert(!pm.contains("CartesianProduct"), s"q257 went cartesian:\n$pm")
    assert(pm.contains("BroadcastNestedLoopJoin"),
      s"q257 N not broadcast-attached:\n$pm")
    assert(pm.contains("graft_bottom_k"), s"q257 lost the native top-k:\n$pm")
    assert(!pm.contains("windowspecdefinition"), s"q257 grew a window sort:\n$pm")
    assert(!pm.contains("n_chars") && !pm.contains("lang") && !pm.contains("source"),
      s"q257 reads unused documents columns:\n$pm")
    // q259: the TextRank composition — the bigram/edge derivation stays
    // partial-agg'd equi work (no cartesian, no window sort; the
    // PageRank rounds run on the in-memory route for this
    // vocabulary-bounded graph) and the scan reads text only.
    val tr = plan("q259_textrank_keywords")
    assert(!tr.contains("CartesianProduct"), s"q259 went cartesian:\n$tr")
    assert(!tr.contains("windowspecdefinition"), s"q259 grew a window sort:\n$tr")
    assert(!tr.contains("n_chars") && !tr.contains("lang"),
      s"q259 reads unused documents columns:\n$tr")
    // q260: one partial->final aggregate to the 2x2 confusion — no join,
    // no shuffle beyond the single-row final.
    val mc = plan("q260_mcc")
    assert(mc.contains("partial_count") || mc.contains("partial_sum"),
      s"q260 confusion not partial-agg'd:\n$mc")
    assert(!mc.contains("Join"), s"q260 grew a join:\n$mc")
    assert(!mc.contains("props"), s"q260 reads unused events columns:\n$mc")
    // q261: every window partitions on user_id (no global event sort),
    // the touch↔conversion meet is an equi join, the final rollup is
    // partial-agg'd, and the scan leaves value/props behind.
    val at = plan("q261_attribution")
    assert(!at.contains("CartesianProduct"), s"q261 went cartesian:\n$at")
    assert(at.contains("windowspecdefinition(user_id"),
      s"q261 window not user-partitioned:\n$at")
    assert(at.contains("partial_sum"), s"q261 rollup not partial-agg'd:\n$at")
    assert(!at.contains("props") && !at.contains("value:double"),
      s"q261 reads unused events columns:\n$at")
    // q262: per-group counts partial-aggregate and the totals attach by
    // GROUP KEY (equi join), never a broadcast nested loop over groups.
    val en = plan("q262_source_entropy")
    assert(!en.contains("CartesianProduct") && !en.contains("BroadcastNestedLoopJoin"),
      s"q262 totals not equi-joined:\n$en")
    assert(en.contains("partial_count"), s"q262 counts not partial-agg'd:\n$en")
    assert(!en.contains("n_chars") && !en.contains("text"),
      s"q262 reads unused documents columns:\n$en")
    // q263: the pair frame comes from the bounded per-shingle
    // combination explode — every join is an equi join, no window, and
    // the scan skips the documents payload.
    val so = plan("q263_source_overlap")
    assert(!so.contains("CartesianProduct"), s"q263 went cartesian:\n$so")
    assert(!so.contains("windowspecdefinition"), s"q263 grew a window sort:\n$so")
    assert(so.contains("partial_count"), s"q263 counts not partial-agg'd:\n$so")
    assert(!so.contains("n_chars") && !so.contains("lang"),
      s"q263 reads unused documents columns:\n$so")
    // q264: containment candidates meet on the element equi join (the
    // probe prefix vs the full corpus index) — no cartesian anywhere;
    // the probe ranking window partitions per set id.
    val cd = plan("q264_containment_decon")
    assert(!cd.contains("CartesianProduct"), s"q264 went cartesian:\n$cd")
    assert(cd.contains("windowspecdefinition(xid"),
      s"q264 prefix rank not per-probe-partitioned:\n$cd")
    assert(!cd.contains("n_chars") && !cd.contains("source"),
      s"q264 reads unused documents columns:\n$cd")
  }

  test("q134: coordinated sample is one partial-agg'd aggregate, never a window sort") {
    val p = plan("q134_bottomk_sample")
    assert(p.contains("graft_bottom_k"), s"native bottom-k aggregate missing:\n$p")
    assert(!p.contains("Window"), s"sample degraded to a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"no object hash aggregate:\n$p")
  }

  test("q136: co-occurrence pairs partial-aggregate and equi-join (no cartesian)") {
    val p = plan("q136_cooccur_pairs")
    assert(!p.contains("CartesianProduct"), s"pair join went cartesian:\n$p")
    assert(p.contains("partial_count"), s"pair counting not partial-agg'd:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-30 is not a TakeOrdered:\n$p")
  }

  test("q138: OLS trend is one partial->final aggregate over the scan") {
    val p = plan("q138_trend_ols")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"moment sums not partial-agg'd:\n$p")
    assert(!p.contains("Exchange hashpartitioning") ||
      "Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"OLS should shuffle exactly once:\n$p")
  }

  test("q139: skip summary is two aggregates, no join, no window") {
    val p = plan("q139_skip_summary")
    assert(!p.contains("Join"), s"skip summary should not join:\n$p")
    assert(!p.contains("Window"), s"skip summary should not window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"zone stats not partial-agg'd:\n$p")
  }

  test("q140: rendezvous shard pick is scan-stage — one rollup shuffle, no join") {
    val p = plan("q140_rendezvous_shards")
    assert(!p.contains("Join"), s"shard assignment must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"shard rollup should shuffle exactly once:\n$p")
  }

  test("zorder clustering is exactly one range shuffle") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val q = graft.operators.Layout.zorder(
      df, Seq(("o_orderkey", 0L, 99999L), ("o_custkey", 0L, 9999L)), 8, bits = 8)
    // string-level: AQE wraps the plan, so count exchanges textually
    val p = q.queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(p).size === 1,
      s"zorder must cost exactly one shuffle:\n$p")
    assert(p.contains("rangepartitioning(__z"),
      s"zorder shuffle is not a range partition on the z-value:\n$p")
  }

  test("q157: the bloom probe stage joins nothing — pure scan-stage filter") {
    // The entire decontamination pitch: the train side is ONE filter +
    // project over its scan. The only join-free exception is the tiny
    // filter-build aggregate that ran at plan-construction time.
    val p = plan("q157_bloom_decontaminate")
    assert(!p.contains("Join"), s"probe side must not join:\n$p")
    assert(!p.contains("Window"), s"probe side must not window:\n$p")
  }

  test("q153: funnel has no window over the event stream, filters push to the scan") {
    val p = plan("q153_funnel")
    assert(!p.contains("Window"), s"funnel must not window-scan the stream:\n$p")
    assert(p.contains("EqualTo(event_type,view)") || p.contains("isnotnull(event_type"),
      s"event_type filter not near the scan:\n$p")
  }

  test("q155: skyline reduces via hash aggregate before its bounded window") {
    val p = plan("q155_skyline")
    assert(p.contains("HashAggregate"), s"per-size reduce missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline must not compare all pairs:\n$p")
  }

  test("q161: dhash candidates meet on a shuffled equi-join, never all pairs") {
    val p = plan("q161_dhash_neardup")
    assert(!p.contains("CartesianProduct"), s"banded join degraded:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join found:\n$p")
  }

  /** Every size-gated operator's call over a fresh input. Each input
    * counts its evaluations with an accumulator-bearing filter: exactly
    * one per input row, per call, on each route. The payload column
    * makes every operator projection NARROWING — with exactly the
    * projected columns a trivial Project canonicalizes away and even a
    * broken shape accidentally cache-matches, which is what hid this in
    * r15. It also differs per call, so no call reads another call's
    * pinned gate cache. */
  private object gated {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, udf}
    import graft.operators._
    val n = 200L
    val evals = spark.sparkContext.longAccumulator("gated_input_evals")
    // a FILTER, so no plan can prune it (a gate count that the cache
    // does not serve evaluates it too), and nondeterministic, so the
    // optimizer never copies it as an inferred constraint onto the other
    // side of a join over a checkpoint of the input
    private val tick = {
      val acc = evals // capture the accumulator, not this object
      udf { (a: Long) => acc.add(1L); a >= 0L }.asNondeterministic()
    }
    private var tag = 0L
    private def input(ticked: String, exprs: String*)(): DataFrame = {
      tag += 1
      spark.range(n).selectExpr(exprs :+ s"id + $tag as payload": _*)
        .filter(tick(col(ticked)))
    }
    private val events = input("sid", "id % 40 as sid", "cast(id % 5 as string) as e",
      "id div 40 + 1 as pos") _
    private val edges = input("a", "id % 40 as a", "(id * 13) % 40 as b") _
    private val pairs = input("a", "id div 20 as a", "20 + id % 20 as b") _ // distinct, a != b
    private val arcs = input("src", "id % 40 as src", "(id * 7 + 1) % 40 as dst") _
    private val nodes = spark.range(40).selectExpr("id as node")
    private val seeds = nodes.selectExpr("node", "node % 3 as lbl").filter("node % 7 = 0")
    val cases = Seq[(String, () => DataFrame, DataFrame => DataFrame)](
      ("PrefixSpan", events, PrefixSpan.frequentPatterns(_, 30, 3)),
      ("PrefixSpan max-gap", events, PrefixSpan.frequentPatternsMaxGap(_, 25, 3, 2)),
      ("Apriori", input("bid", "id % 60 as bid", "cast(id % 6 as string) as item"),
        Apriori.frequentItemsets(_, 10, 3)),
      ("Hits", arcs, Hits.run(_, 2)),
      ("LabelProp", edges, LabelProp.propagate(nodes, _, seeds, 2)),
      ("KCore", edges, KCore.peel(_, 2L, 3)),
      ("RandomWalk", pairs, RandomWalk.walks(_, 1, 2, "pin")),
      ("Louvain", pairs, Louvain.communities(_, 2)),
      ("Louvain multi-level", pairs, Louvain.communitiesMultiLevel(_, 2, 2)),
      ("ConnectedComponents", edges,
        ConnectedComponents.components(nodes.selectExpr("node as doc_id"), _, "doc_id")),
      ("Coverage", input("doc", "id % 25 as doc", "cast(id % 120 as string) as el"),
        Coverage.greedySelect(_, "doc", "el", 3)),
      ("Bfs", arcs, Bfs.hops(_, 0L, 3)),
      ("Sssp", input("src", "id % 40 as src", "(id * 7 + 1) % 40 as dst", "1 + id % 9 as w"),
        Sssp.distances(_, 0L, 3)),
      ("PageRank", arcs, PageRank.run(_, "src", "dst", 2)),
      ("PageRank personalized", arcs,
        PageRank.runPersonalized(_, "src", "dst", nodes.filter("node < 3"), "node", 2)),
      ("Bpe", input("freq", "concat('ab', cast(id % 7 as string), cast(id as string)) as word",
          "1 + id % 5 as freq",
          "transform(sequence(1, length(word)), i -> substring(word, i, 1)) as toks"),
        Bpe.train(_, 3)._2))
  }

  test("every size-gated operator evaluates its input exactly once on both routes") {
    // The LocalTier gate must add no pass over the input on either route:
    // the gate count fills the cache (or eager checkpoint) that the
    // local-tier collect AND the distributed plan read. A distributed
    // plan built from the raw input instead of the gate frame would
    // compute a possibly expensive derivation twice big-side (q133/q274's
    // edges are exact similarity self-joins; cache lookup is by
    // canonicalized subtree, and a raw frame with any extra column does
    // not match the cached narrowing projection).
    import org.apache.spark.sql.DataFrame
    import graft.operators.LocalTier
    import gated._
    def evaluations(out: => DataFrame): Long = {
      evals.reset()
      out.collect()
      evals.value
    }
    cases.foreach { case (name, mk, op) =>
      val local = evaluations(op(mk()))
      assert(local === n, s"$name: the local route evaluated its input ${local / n.toDouble} times")
      val dist = evaluations(LocalTier.forcingDistributed(op(mk())))
      assert(dist === n,
        s"$name: the distributed route evaluated its input ${dist / n.toDouble} times")
      val mine = mk().persist()
      try {
        op(mine).collect()
        LocalTier.forcingDistributed(op(mine)).collect()
        assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
          s"$name dropped the caller's persisted input")
      } finally mine.unpersist()
    }
  }

  test("the distributed iterative loops leave no session cache entry behind") {
    // Round state is checkpointed (operators.Rounds), never cached, and
    // each gate releases the caches it made: a forced-distributed call
    // adds no CacheManager entry, and keeps a caller-persisted input.
    // PrefixSpan and Apriori are left out: their per-level persistOnce
    // chains are not round state.
    import graft.operators.LocalTier
    import gated._
    def added(run: => Unit): Int = {
      val before = org.apache.spark.sql.GraftTestBus.cachedEntries(spark)
      run
      org.apache.spark.sql.GraftTestBus.cachedEntries(spark) - before
    }
    val left = cases
      .filterNot { case (name, _, _) => name.startsWith("PrefixSpan") || name == "Apriori" }
      .flatMap { case (name, mk, op) =>
        val fresh = added(LocalTier.forcingDistributed(op(mk())).collect())
        val mine = mk().persist()
        try {
          val kept = added(LocalTier.forcingDistributed(op(mine)).collect())
          assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
            s"$name dropped the caller's persisted input")
          Seq(("fresh input", fresh), ("persisted input", kept)).collect {
            case (in, k) if k != 0 => s"$name, $in: $k entries"
          }
        } finally mine.unpersist()
      }
    assert(left.isEmpty,
      s"distributed routes left cache entries behind:\n${left.mkString("\n")}")
  }

  test("no registered query cartesian-joins two unbounded sides") {
    // The scale rule: a CartesianProductExec over two unbounded inputs is
    // O(n²) work however clever the rest of the plan — every occurrence
    // must sit above a limit on BOTH sides (q63's exact-baseline cap).
    // BroadcastNestedLoopJoin is exempt: its build side is runtime-bounded
    // by Spark's broadcast size enforcement, so it cannot stream two
    // unbounded sides by construction.
    import org.apache.spark.sql.execution._
    def bounded(p: SparkPlan): Boolean = p.collectFirst {
      case _: TakeOrderedAndProjectExec => ()
      case _: GlobalLimitExec => ()
      case _: LocalLimitExec => ()
      case _: CollectLimitExec => ()
      case _: LocalTableScanExec => ()
    }.isDefined
    // sparkPlan = the pre-AQE physical plan (node types visible without
    // executing); building it runs any driver-side prep some queries do
    val (plans, failures) = eachEntry(sweepEntries())(q => q.run(spark, dir).queryExecution.sparkPlan)
    assert(failures.isEmpty, s"entries failing to plan at $dir:\n${failures.mkString("\n")}")
    plans.foreach { case (q, p) =>
      p.foreach {
        case j: joins.CartesianProductExec =>
          assert(j.children.forall(bounded),
            s"${q.name}: CartesianProduct over an unbounded side:\n$p")
        case _ => ()
      }
    }
  }
}

package graft.tools

import graft.QueryRegistry

/** The 10× scale probe: run the heaviest registry queries at sf0.1 and
  * at a ScaleGen-grown multiple, and report the measured scaling
  * exponent e = log(t_big / t_small) / log(factor) per query — e ≈ 1 is
  * linear, e < 1 means fixed costs still dominate, e ≥ 2 is the
  * quadratic blowup the plans are designed to avoid. Emits ONE JSON line
  * (same contract as graft.Bench) for BENCH_scale.json.
  *
  * Usage (BENCH_scale.json's runs set SPARK_GRAFT_CPUS=32; see graft.Session):
  *   runMain graft.tools.ScaleGen /root/testdata/sf0.1 /tmp/sf1x 10
  *   runMain graft.tools.ScaleBench /root/testdata/sf0.1 /tmp/sf1x 10
  */
object ScaleBench {

  val Heavy = Seq(
    "q143_ann_pq", "q133_semantic_dedup", "q159_bpe_merges",
    "q169_bpe_encode", "q162_bfs_hops", "q149_trimmed_mean_approx",
    "q96_cosine_pairs_lsh", "q57_dedup_minhash_lsh",
    // The event-analytics wing (windows, funnel joins, SCD2/interval
    // merges) plus the heaviest candidate-join text operators — added
    // after the r8 events restoration so the probe covers every family
    // with super-linear risk, not just the vector tier.
    "q44_sessionize", "q153_funnel", "q154_retention",
    "q164_scd2_build", "q165_interval_merge", "q130_editdist_join",
    // q59 measures the EXACT simhash tier — deliberately all-pairs below
    // its 4M-sketch broadcast budget, so its exponent sits near the
    // quadratic term's emergence by design; q95 carries the banded
    // (Hamming-ball candidate join) scale path's exponent.
    "q59_simhash_pairs", "q95_simhash_banded", "q111_ngram_decontaminate",
    // The streaming oracle twins: the heaviest bench entries with no
    // measured exponent until r9. Their cost should be micro-batch /
    // state-store fixed overhead (e ≈ 0) — the probe verifies that claim
    // instead of taking it from a plan read.
    "q170_stream_restart_ingest", "q171_stream_watermark_drop",
    "q172_stream_dedup", "q185_stream_drift_histogram",
    // The round-9 evaluation wing: the triangle wedge join and the two
    // distributed-rank/prefix-sum statistics are new join shapes, so
    // they get measured exponents from day one.
    "q173_triangle_count", "q174_ks_drift", "q175_roc_auc",
    "q176_rrf_fusion", "q177_cohen_kappa", "q178_quantile_norm",
    "q179_label_prop", "q180_calibration",
    // The round-10 composition: q182 chains the 32-hash minhash graph,
    // triangle screen, label prop and all three ppm statistics into one
    // report — the heaviest single registry entry, so its end-to-end
    // exponent is measured rather than inferred from its parts.
    "q182_monitor_report",
    // The round-10 drift wing: q192 shares q174's PrefixSum shape (one
    // range-exchange cumulative pass), the categorical statistics are
    // single partial-agg shuffles — measured from day one like the r9
    // wing rather than trusted from plan reads.
    "q189_tvd_drift", "q190_chi2_drift", "q191_source_tvd",
    "q192_w1_drift", "q193_source_concentration",
    // the drift-panel composition (one text scan, four statistics), the
    // governance audit and the LOO-encoding join-back
    "q194_drift_panel", "q196_kanon_audit", "q197_loo_target_encode",
    // sequence wing: the per-user grouped-window leads, the lag join,
    // and the per-series statistics (CUSUM / Spearman / Mann-Kendall —
    // daily-frame cost is fixed by |series|x|days|; probe confirms)
    "q198_transition_matrix", "q199_lag_autocorr", "q200_journey_trigrams",
    "q201_cusum_changepoint", "q202_spearman_pairs", "q203_mann_kendall",
    // calibration/governance wing: the globalRank + minimax isotonic fit,
    // the grouped conformal order statistic, and the erasure semi-sweep
    "q204_isotonic_calibration", "q205_conformal_threshold",
    "q206_erasure_sweep", "q207_benford_audit",
    // robust statistics: the Theil-Sen pair join, the conversion-latency
    // windows, the two-stage weighted median, and the Gini rank window
    "q208_theil_sen", "q209_conversion_latency",
    "q210_weighted_median", "q211_gini_lorenz",
    // the per-user adoption self-join and the unpivoted chi-square scan
    "q212_adoption_precedence", "q213_chi2_feature_rank",
    // the iterative k-core semi-join peel and the stacked FD audit
    "q215_kcore_peel", "q216_fd_audit",
    // the PrefixSum shard packing and the HT sample expansion
    "q217_token_packing", "q219_ht_estimate",
    // second round-10 wing: the CvM PrefixSum shape, the Kendall day-pair
    // self-join, the expectations multi-pass, the greedy coverage rounds,
    // the winnowing grouped window + df-capped bucket join, the digest
    // scan, the assortativity two-hop degree join, the modularity
    // community join, and the 64-estimator AMS sketch pass
    "q220_cvm_drift", "q221_runs_test", "q222_kendall_pairs",
    "q223_expectations", "q226_coverage_select", "q227_table_digest",
    "q228_winnow_overlap", "q229_assortativity", "q230_modularity",
    "q231_ams_joinsize",
    // the two streamed twins of the wing (state-store fixed overhead,
    // e ≈ 0 expected like q170-q172/q185) and the r11 stochastic
    // coverage tier (sampled gain aggregate — the scale path of q226)
    "q214_stream_benford", "q232_stream_digest", "q233_coverage_stochastic",
    // the r11 wing's join shapes: the lossless prefix-filter similarity
    // join, the two-round HITS edge/score joins, and the Neyman design's
    // two-pass moments + grouped membership rank
    "q234_ppjoin_exact", "q239_hits", "q242_neyman_stratified",
    // r12: the KN bigram model's corpus-scale (doc,v,w) count and
    // type-table join-backs — a new join shape, measured from day one
    "q243_kn_bigram_xent",
    // r13: the PrefixSpan level-loop (sid-keyed occurrence x event join
    // per level), the DSIR bucket-LM count + broadcast join-back, and
    // the gap-constrained occurrence-list tier (x-maxGap fanout per
    // level) — all new shapes, measured from day one
    "q244_seq_patterns", "q245_dsir_resample", "q246_seq_patterns_gap",
    // r13 second wing: the SSSP frontier-relax rounds, the covisit
    // basket self-join + bottom-k, the CDC per-doc window + chunk
    // groupBy, the FS value-count aggregates + blocked-pair scoring,
    // and the Apriori level loop — all new shapes, measured from day one
    "q247_sssp_cheapest_route", "q248_covisit_topk", "q249_cdc_chunk_dedup",
    "q250_fs_linkage", "q251_itemsets_apriori",
    // the daily-sketch + register-window rollup and the one-count-then-
    // tiny-model absorption chain
    "q252_sliding_hll", "q253_absorb_funnel",
    // r13 third wing: the 64-replicate bootstrap expansion (the one
    // deliberate row-multiplying pass in the repo — partial agg must
    // absorb it), the two bottom-k ranking aggregates, the JSD count
    // shuffle, and the PMI bigram count + type join-backs
    "q254_bootstrap_ci", "q255_ndcg_ranking", "q256_js_drift",
    "q257_pmi_collocations",
    // its streamed twin (state-store fixed overhead, e ~ 0 expected),
    // the TextRank composition (bigram count + in-memory PageRank), and
    // the single-pass MCC confusion
    "q258_stream_jsd", "q259_textrank_keywords", "q260_mcc",
    // the per-user attribution windows + segment join, and the
    // per-group entropy count/join/sum chain
    "q261_attribution", "q262_source_entropy",
    // the bounded per-shingle source-pair explode and the asymmetric
    // containment prefix join (probe prefix vs full corpus index)
    "q263_source_overlap", "q264_containment_decon",
    // r14: the Louvain per-round vote/sigma/argmax join chain (a new
    // iterative shape). q266/q267 (agri seasonal tiers) are deliberately
    // NOT here: they read the fixed real 1.5M-row corpus whatever the
    // sf dir, so a replica "exponent" would measure nothing — their
    // scale shapes (one corpus-scale grouped aggregate each, then
    // broadcast join-backs / ≤216-row-per-series windows) are argued in
    // their registration comments like the other agri entries.
    "q265_louvain_communities",
    // r15: the full multi-level tier (local moves + contraction + second
    // level) — same per-round join chain plus the contraction groupBy
    "q268_louvain_multilevel",
    // r15: the BPE encode-to-ids join + per-doc ordered md5 aggregate,
    // and the BPE-budget packing (dictionary join + PrefixSum) — the
    // corpus-scale halves of the tokenizer arc, measured from day one
    "q269_bpe_token_ids", "q270_bpe_packing",
    // r15: MMR greedy (k bounded scans of the checkpointed grid frame —
    // expected ~linear), and the stream-stream join twin (two-sided
    // state, the q258 streaming-fixed-cost shape). q273/q274 are
    // deliberately NOT here: q273's per-round cost is q137's 25-node
    // nation graph (the corpus-scale part is the edge derivation both
    // already pay), q274's heavy part is exactly q133's capped cosine
    // self-join + CC, already probed.
    "q271_mmr_rerank", "q272_stream_stream_join",
    // r15: the trigram posting-list build (corpus-linear in chars — the
    // write-side index cost) + probe join. q276 is one grouped scan, not
    // probe-worthy.
    "q275_trigram_search")

  def main(args: Array[String]): Unit = {
    val small = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("/tmp/sf1x")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // Optional 4th arg: comma-separated query subset, for probing a
    // specific pair at an extra factor (e.g. the 30x confirmation points)
    // without paying for the whole Heavy list.
    val subset = args.lift(3).map(_.split(',').map(_.trim).toSet)
    val spark = graft.Session.harness()

    val names = Heavy.filter(QueryRegistry.byName.contains)
      .filter(n => subset.forall(_.contains(n)))
    // warmup pass at the small scale (JVM/codegen, page cache)
    names.foreach { n =>
      try QueryRegistry.byName(n).run(spark, small).count()
      catch { case _: Throwable => () }
    }
    def time(dir: String): Map[String, Double] = names.map { n =>
      val runs = (1 to 2).map { _ =>
        // Cold-COMPUTE probe: Bench deliberately times the steady-state
        // warm path (persistOnce caches included), but a scaling
        // exponent taken over cache-served re-reads hides exactly the
        // compute the probe exists to measure — a persistOnce query's
        // min-of-2 would otherwise time an InMemoryRelation scan at both
        // scales (q173 first measured at e ≈ 0 this way). JVM/codegen
        // warmup is preserved; only the SQL cache resets per run.
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        try QueryRegistry.byName(n).run(spark, dir).count()
        catch { case e: Throwable => System.err.println(s"[scale] $n@$dir: $e") }
        (System.nanoTime() - t0) / 1e9
      }
      n -> runs.min
    }.toMap
    val tSmall = time(small)
    val tBig = time(big)
    def r3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val body = names.map { n =>
      val e = math.log(tBig(n) / tSmall(n)) / math.log(factor.toDouble)
      s""""$n":{"small_s":${r3(tSmall(n))},"big_s":${r3(tBig(n))},"exponent":${r3(e)}}"""
    }.mkString(",")
    println(s"""{"metric":"scale_probe","factor":$factor,"small":"$small","big":"$big","queries":{$body}}""")
    spark.stop()
  }
}

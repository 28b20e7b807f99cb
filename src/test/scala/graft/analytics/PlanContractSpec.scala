package graft.analytics

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.SparkSpec.catalog

/** SCALE.md's physical-plan claims as build-failing contracts. Each
  * assertion encodes a property the 100 TB posture depends on (pushed
  * filters, broadcast dims, top-k without global sort, rank-limit
  * pushdown, narrow no-shuffle maps). A Spark upgrade or query edit that
  * silently loses one of these now fails the suite instead of waiting for
  * a manual ExplainAudit pass. */
class PlanContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    graft.SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  private def countOf(hay: String, needle: String): Int =
    needle.r.findAllMatchIn(hay).size

  test("q02: all three predicates reach the parquet scan (PushedFilters)") {
    // formatted mode prints the FULL PushedFilters list (toString elides it)
    val p = graft.SparkEntry.queries("q02_filter_project")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("GreaterThan(l_quantity"), "quantity filter not pushed")
    assert(p.contains("GreaterThanOrEqual(l_discount"), "discount filter not pushed")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
  }

  test("q12: every dimension joins broadcast; the fact table never sort-merges") {
    val p = plan("q12_revenue_by_nation")
    assert(countOf(p, "BroadcastHashJoin") >= 3,
      s"expected >=3 broadcast dim joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact table sort-merged a dim:\n$p")
  }

  test("q13/q18: top-k runs as TakeOrderedAndProject, never a global sort") {
    Seq("q13_top_unshipped", "q18_topk_orders").foreach { q =>
      assert(plan(q).contains("TakeOrderedAndProject"), s"$q lost its top-k plan")
    }
  }

  test("q07: dedup rank-filter gets WindowGroupLimit map-side") {
    val p = plan("q07_dedup_latest")
    assert(countOf(p, "WindowGroupLimit") >= 2,
      s"rank-limit pushdown lost (need it both sides of the exchange):\n$p")
  }

  test("narrow text/vector maps stay shuffle-free") {
    Seq("q30_text_stats", "q33_fingerprint", "q60_redact",
      "q65_repetition", "q67_quantize_embeddings", "q84_doc_chunks",
      "q131_gopher_gates", "q134_media_resize", "q206_jpeg_decode",
      "q217_html_extract", "q220_cdc_chunks", "q222_text_clean",
      "q234_gif_decode", "q254_exif_metadata", "q255_oriented_phash",
      "q258_token_chunks").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q gained a shuffle:\n$p")
    }
  }

  test("q257: distinct-char entropy is ONE doc-keyed exchange, no join") {
    val p = plan("q257_char_entropy_gate")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"q257 gained a shuffle (the r13 plan lesson regressed):\n$p")
    assert(!p.contains("Join"), s"q257 regained its join:\n$p")
  }

  test("q135: weighted-sample rank filter gets WindowGroupLimit map-side") {
    // same contract as q07: the rank<=5 filter must push a per-source
    // top-5 below the exchange, or the shuffle carries every doc
    val p = plan("q135_weighted_sample")
    assert(countOf(p, "WindowGroupLimit") >= 2,
      s"q135 lost rank-limit pushdown:\n$p")
  }

  test("q132: BPE encode is narrow after training — no shuffle in the apply plan") {
    // the fn trains first (3 bounded collect rounds); the RETURNED apply
    // dataflow must stay a chain of narrow projections
    val p = plan("q132_bpe_encode")
    assert(!p.contains("Exchange"), s"q132 apply plan gained a shuffle:\n$p")
  }

  test("q133: PSI is two data scans (midpoint + counts), no window, keyed aggs only") {
    val p = plan("q133_psi_drift")
    assert(!p.contains("Window"), s"q133 gained a window:\n$p")
    // events is read exactly twice: the 1-row min/max midpoint and the ONE
    // (type, bucket) conditional-count pass — the period branches must not
    // re-scan
    assert(countOf(p, "Scan parquet") == 2,
      s"q133 must read events exactly twice:\n$p")
    // the only single-partition collapse allowed is the 1-row min/max
    // midpoint partial; data rows never funnel through one partition
    assert(countOf(p, "Exchange SinglePartition") <= 1,
      s"q133 funnels data through a single partition:\n$p")
  }

  test("q66: exactly one shuffle (the per-source window partition)") {
    assert(countOf(plan("q66_shard_pack"), "Exchange hashpartitioning") == 1)
  }

  test("q49: as-of join is agg-argmax, no Window over the joined set") {
    val p = plan("q49_asof_join")
    assert(!p.contains("Window"), s"as-of join regressed to a window sort:\n$p")
  }

  test("q71: k-means assignment is a narrow projection — no join, no shuffle") {
    // the trainer's per-iteration collect jobs run at plan-build time; the
    // FINAL assignment must inline the trained centroids as literals and
    // stay join-free and exchange-free (the SCALE.md claim)
    val p = plan("q71_kmeans_train")
    assert(!p.contains("Join"), s"q71 assignment gained a join:\n$p")
    assert(!p.contains("Exchange"), s"q71 assignment gained a shuffle:\n$p")
  }

  test("q76: power-iteration scoring is a narrow projection — no join, no shuffle") {
    // the per-step collect jobs run at plan-build time (q71 pattern); the
    // FINAL scoring pass inlines the trained direction as a literal
    val p = plan("q76_power_iteration")
    assert(!p.contains("Join"), s"q76 scoring gained a join:\n$p")
    assert(!p.contains("Exchange"), s"q76 scoring gained a shuffle:\n$p")
  }

  test("q72: pair counts end in TakeOrderedAndProject over one hash shuffle") {
    val p = plan("q72_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), s"q72 lost its top-k plan:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"q72 should shuffle once (pair-keyed agg):\n$p")
  }

  test("q73: quantile gate is one source-keyed window shuffle") {
    assert(countOf(plan("q73_quantile_gate"), "Exchange hashpartitioning") == 1)
  }

  test("q79: token-budget mix is one source-keyed window shuffle, no joins") {
    val p = plan("q79_token_budget_mix")
    assert(!p.contains("Join"), s"q79 gained a join:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"q79 should shuffle once (source window):\n$p")
  }

  test("q80: curation pipeline is three keyed shuffles (fp window, source window, agg), no joins") {
    val p = plan("q80_curation_pipeline")
    assert(!p.contains("Join"), s"q80 gained a join:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 3,
      s"q80 should shuffle exactly three times:\n$p")
    assert(countOf(p, "HashAggregate") == 2,
      s"q80 lost its map-side partial aggregation:\n$p")
  }

  test("q89: NO window, NO single-partition stage; offsets are a pinned broadcast self-join") {
    // the scale contract (tightened round 7): the raw table flows through
    // ONE range exchange and a narrow monotonic-id projection; the
    // per-partition counts are pinned via localCheckpoint (≤32 rows, one
    // base scan) and cumulated by a broadcast non-equi self-join — the
    // plan contains NO Window and NO SinglePartition exchange AT ALL, so
    // the WindowExec no-partition warning is structurally impossible
    val p = plan("q89_global_ids")
    // the base is referenced three times (data path + the offset
    // self-join's two sides); all three print their own range exchange in
    // the un-executed plan and collapse to ONE shuffle via exchange reuse
    // at runtime (identical canonical plans — the same reuse the r06
    // two-reference form relied on)
    val nRange = countOf(p, "Exchange rangepartitioning")
    assert(nRange >= 1 && nRange <= 3,
      s"range exchange count drifted (reuse dedupes at runtime):\n$p")
    assert(!p.contains("Window"), s"q89 gained a window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"q89 gained a single-partition stage:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("LeftOuter"),
      s"expected the bounded pid' < pid offset self-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offset table must join back as a broadcast:\n$p")
  }

  test("q94: one pid-bounded window, NO single-partition stage, offsets broadcast") {
    val p = plan("q94_sequence_pack")
    assert(countOf(p, "Window \\[") == 1,
      s"expected only the pid-partitioned cumsum window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"q94 gained a single-partition stage:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets must come back as a broadcast:\n$p")
  }

  test("q104: index-served hybrid retrieval has no single-partition stage, no corpus window") {
    // the r06 q88 scale-killer, recomposed: the only Window is the
    // VectorIndex probe's query-partitioned rank over cell-bounded
    // candidates; lex ranks come from GlobalOrder (window-free); the
    // postings scan carries the query-term filter down to parquet
    val p = plan("q104_hybrid_indexed")
    assert(!p.contains("Exchange SinglePartition"),
      s"q104 gained a single-partition stage:\n$p")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("query_id")),
      s"every window must be query-partitioned (bounded candidates):\n$p")
    assert(p.contains("PushedFilters: [In(tok"),
      s"query-term filter must reach the postings parquet scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"final top-15 must be a distributed TakeOrdered, not a global sort:\n$p")
  }

  test("q109: split manifest is narrow hash + one 3-group agg — no window, no per-doc keyed shuffle") {
    val p = plan("q109_split_manifest")
    assert(!p.contains("Window"), s"q109 gained a window:\n$p")
    // two keyed shuffles, both ≤ |split × source| rows after the map-side
    // partial: the (split, source) distinct-expansion agg and the final
    // 3-group agg; the total-count scalar arrives via the whitelisted
    // 1-row broadcast cross join
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"q109 should shuffle twice (distinct expansion + split agg):\n$p")
  }

  test("q110/q111: per-doc LM/dup scores are linear keyed shuffles — no window, no single-partition stage") {
    Seq("q110_interdup_coverage", "q111_bigram_lm").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q gained a window:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q gained a single-partition stage:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join only:\n$p")
    }
  }

  test("q100: checksums are pure scan-aggregates — no joins, no windows, no keyed shuffles") {
    val p = plan("q100_table_checksum")
    assert(!p.contains("Join"), s"q100 gained a join:\n$p")
    assert(!p.contains("Window"), s"q100 gained a window:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 0,
      s"q100 should not shuffle by key (global aggs only):\n$p")
    assert(countOf(p, "Exchange SinglePartition") == 3,
      s"expected one 1-row final agg per table:\n$p")
  }

  test("no cartesian products anywhere; nested-loop joins only where intended") {
    // BroadcastNestedLoopJoin is legitimate exactly where a small broadcast
    // side meets a non-equi (or absent) condition BY DESIGN: q39 (guarded
    // all-pairs baseline), q40 (broadcast query side, <> condition), q42b
    // and q74 (broadcast centroid assignment via the shared ivfAssign),
    // q50, q77 and q83 (broadcast 1-row corpus/source count). Anywhere
    // else it means a join key got lost. CartesianProduct is never
    // acceptable.
    val bnljWhitelist = Set("q39_cosine_dup_pairs", "q40_ann_topk",
      "q42b_ann_ivf", "q74_semantic_dedup", "q50_tfidf", "q77_unigram_lm",
      "q83_negative_pairs", "q86_bm25", "q88_hybrid_rrf",
      "q99_ref_integrity", // 1-row aggregate cross joins by design
      "q102_temperature_mix", // broadcast 1-row median cross join
      "q109_split_manifest", // broadcast 1-row total-count cross join
      "q133_psi_drift", // broadcast 1-row time-midpoint cross join
      "q113_knn_label_vote", // q40-style guarded broadcast-query scored cross join
      "q124_mmr_rerank", // q40-style guarded broadcast candidate generation
      // GlobalOrder's ≤32-row pinned offset self-join (pid' < pid):
      "q89_global_ids", "q94_sequence_pack",
      "q231_step_provenance", // q94's lineage (same GlobalOrder offsets)
      "q144_equidepth_bins", // GlobalOrder offsets + 1-row count cross join
      "q147_model_eval", "q148_calibration", // GlobalOrder ranks (q144 shape)
      "q150_prf_bm25", // q86's 1-row corpus-stat broadcasts, both passes
      // index probes: broadcast centroid argmax + bounded offset join
      "q104_hybrid_indexed", "q105_ann_indexed", "q114_knn_vote_indexed",
      "q168_hard_negatives_indexed",
      "q142_pmi", // broadcast 1-row corpus-count cross join (q50 pattern)
      "q152_dsir_weights", // broadcast 1-row totals + median cross joins
      "q153_source_kl", // 256-row spine + 1-row total: metadata-sized by design
      "q154_theta_overlap", // |sources|-row one-blob pair matrix (<' join)
      "q158_snapshot_novelty", // 1-row x 1-row blob cross join
      "q162_hard_negatives", // q113-style guarded broadcast-anchor scored join
      "q163_naive_bayes", // broadcast 256-row model + 1-row totals/prior
      "q164_epoch_mix", // broadcast 1-row budget/weight-sum cross join
      "q165_zipf_fit", // GlobalOrder's pinned <=32-row offset self-join
      "q167_dedup_agreement", // 3-row method-count spine (<' join)
      "q180_conformal", // broadcast 1-row qhat threshold cross join
      "q182_doremi_mix", // broadcast 1-row totals/weight-sum cross joins
      "q183_join_estimate", // 1-row stats x 1-row exact-count composition joins
      "q184_retrieval_eval", // q86's 1-row corpus-stat broadcasts + 1-row metric joins
      "q185_bootstrap_ci", // 1-row point/lo/hi composition joins
      "q188_label_noise", // broadcast 1-row percentile-threshold cross join
      "q189_model_kappa", // broadcast 256-row NB model + 1-row totals/prior (q163 allowance)
      "q192_benford", // 9-row spine x 1-row total/chi2 composition joins
      "q197_temperature", // 6-row grid x 1-row argmin composition join
      "q199_kaplan_meier", // bounded day<day prefix self-joins (offsets pattern) + 1-row total
      "q204_curriculum", // q77's broadcast 1-row corpus-count cross join
      "q237_kneser_ney", // broadcast 1-row count-of-counts globals cross join
      "q68b_cosine_pairs_lsh_md5", // broadcast 36-row md5 hyperplane bank
      "q41b_ann_lsh_md5", // broadcast 64-row md5 hyperplane bank (q68b shape)
      "q201_rfm", // GlobalOrder offsets + broadcast 1-row count cross join (q144 shape)
      "q210_cms_freq", // |sources| x 10-probe spine cross join (metadata-sized)
      "q211_semantic_decontaminate", // broadcast BOUNDED eval side by design (require-guarded)
      "q212_length_batching", // GlobalOrder's pinned <=32-row offset self-joins
      "q213_semantic_decontaminate_indexed", // index probe: broadcast centroid argmax (q105 allowance)
      "q214_bitext_margin", // broadcast BOUNDED probe slice by design (q211 allowance)
      "q215_bitext_margin_indexed", // index probe: broadcast centroid argmax (q105 allowance)
      "q239_pq_adc", // broadcast 128-row codebook/ADC-table joins (pinned metadata)
      "q242_kn_perplexity_gate", // GlobalOrder offsets + 1-row count cross join (q144 shape)
      "q244_ivfpq", // index probe: broadcast centroid argmax (q105 allowance)
      "q250_pair_neardup") // q74's broadcast centroid assignment (ivfAssign)
    // read from the catalog snapshot: one cache-cold build per query
    assert(catalog.failures.isEmpty, s"queries failed to plan: ${catalog.failures}")
    catalog.records.foreach { case (r, _) =>
      val name = r.query
      assert(!r.cartesian, s"$name plans a cartesian product")
      if (!bnljWhitelist(name))
        assert(!r.nestedLoop,
          s"$name gained an unplanned nested-loop join")
    }
  }

  test("q118: the expectation suite is one scan — a single parquet read in the plan") {
    val p = plan("q118_expectations")
    assert(countOf(p, "Scan parquet") == 1,
      s"q118 must evaluate all rules over ONE scan:\n$p")
    assert(!p.contains("Join"), s"q118 gained a join:\n$p")
  }

  test("q122/q123/q126/q127: new lake queries keep keyed windows and no single-partition stages") {
    Seq("q122_scd2_timeline", "q126_scd2_asof", "q127_incremental_gold")
      .foreach { q =>
        val p = plan(q)
        // an unpartitioned window would surface as Exchange SinglePartition
        // — its absence proves every window/agg stays keyed
        assert(!p.contains("Exchange SinglePartition"),
          s"$q gained a single-partition stage:\n$p")
      }
  }

  test("q137: vocab side broadcasts and the top-K never global-sorts") {
    val p = plan("q137_vocab_oov")
    // the 10-row vocab must reach the token stream as a broadcast, and its
    // top-K must be TakeOrderedAndProject — K rows cross the wire, never
    // the term dictionary or a global sort of it
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"vocab top-K global-sorted:\n$p")
  }

  test("q138/q139/q140: blocking and graph joins are key-equi, never all-pairs") {
    // the whole point of the pigeonhole/blocking designs: the oracle pays
    // the brute n^2, the Spark plan must never — a lost join key would
    // surface as a cartesian or nested-loop join
    Seq("q138_simhash_blocks", "q139_typo_pairs", "q140_triangles",
      "q141_setsim_join", "q142_pmi", "q149_setsim_incremental",
      "q151_winnowing").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      // q142's 1-row corpus-count broadcast (the q50 pattern) is the one
      // intended nested-loop join in this family; the data-sized joins in
      // every query must stay key-equi
      val bnljCap = if (q == "q142_pmi") 1 else 0
      assert(countOf(p, "BroadcastNestedLoopJoin") <= bnljCap,
        s"$q lost its equi-join key:\n$p")
      assert(countOf(p, "Exchange SinglePartition") <= bnljCap,
        s"$q gained a single-partition stage:\n$p")
    }
  }

  test("q144/q145: global binning and control chart never single-partition the data") {
    // q144's only allowed collapse is the 1-row corpus count (GlobalOrder
    // keeps the rank path range-partitioned); q145's window is keyed by
    // event_type — an unpartitioned NTILE/window would surface here
    assert(countOf(plan("q144_equidepth_bins"), "Exchange SinglePartition") <= 1,
      "q144 funnelled data through one partition")
    assert(!plan("q145_rate_anomaly").contains("Exchange SinglePartition"),
      "q145 lost its keyed window")
  }

  test("q152/q153/q154: distribution models collapse only metadata, never the data") {
    // the hashed-bucket design promise: the DATA path is one explode +
    // keyed aggs; the only single-partition collapses are the 1-row
    // total/median aggregates over <=256-row bucket models (3 in q152:
    // n_t, n_r, median; 1 in q153: n_c). No Window anywhere — a rank/
    // NTILE reformulation of the keep gate would surface here.
    val p152 = plan("q152_dsir_weights")
    assert(countOf(p152, "Exchange SinglePartition") <= 3,
      s"q152 funnelled data through one partition:\n$p152")
    assert(!p152.contains("WindowExec") && !p152.contains("RunningWindow"),
      s"q152 gained a window:\n$p152")
    val p153 = plan("q153_source_kl")
    assert(countOf(p153, "Exchange SinglePartition") <= 1,
      s"q153 funnelled data through one partition:\n$p153")
    // q154: source-keyed sketch agg, then a pair matrix over one-blob
    // rows; the data never collapses to one partition at all
    assert(!plan("q154_theta_overlap").contains("Exchange SinglePartition"),
      "q154 single-partitioned the sketch agg")
  }

  test("q156/q157/q159: media transforms decode in place — zero shuffles") {
    // the multimodal posture's strongest form: bytes decode where they
    // sit and the per-window/patch/pair output needs no regrouping, so
    // the whole plan is scan -> mapPartitions -> project with NO
    // Exchange of any kind
    Seq("q156_audio_energy", "q157_image_patches", "q159_video_motion")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("Exchange"), s"$q gained a shuffle:\n$p")
      }
    // q160 adds exactly the one keyed argmax agg over metadata rows
    val p160 = plan("q160_keyframe_select")
    assert(!p160.contains("Exchange SinglePartition"),
      s"q160 single-partitioned the selection:\n$p160")
  }

  test("q161/q163: removal dedup and NB keep keyed shuffles, no row windows") {
    // q161's promise: dup detection + mark-back are KEYED (window/doc)
    // shuffles and bounded explodes — a rank/window reformulation or a
    // lost join key would surface as WindowExec / SinglePartition here
    val p161 = plan("q161_substr_dedup")
    assert(!p161.contains("WindowExec") && !p161.contains("RunningWindow"),
      s"q161 gained a row window:\n$p161")
    assert(!p161.contains("Exchange SinglePartition"),
      s"q161 funnelled data through one partition:\n$p161")
    assert(!p161.contains("BroadcastNestedLoopJoin"),
      s"q161 lost an equi-join key:\n$p161")
    // q163's promise: the scoring join is a BROADCAST of the 256-row
    // model — a shuffled scoring join would re-key every token
    val p163 = plan("q163_naive_bayes")
    assert(!p163.contains("WindowExec"), s"q163 gained a window:\n$p163")
    // single-partition collapses are the <=256-row model aggs (totals,
    // prior), never the token stream: allow the metadata ones only
    assert(countOf(p163, "Exchange SinglePartition") <= 3,
      s"q163 funnelled the token stream through one partition:\n$p163")
  }

  test("q164/q165/q166: planning, fit, and incremental removal keep their shapes") {
    // q164: one source-keyed agg, then |sources|-row metadata algebra —
    // single-partition stages are the 1-row totals only
    val p164 = plan("q164_epoch_mix")
    assert(countOf(p164, "Exchange SinglePartition") <= 1,
      s"q164 funnelled data through one partition:\n$p164")
    assert(!p164.contains("WindowExec"), s"q164 gained a window:\n$p164")
    // q165: ranks come from GlobalOrder, never a global row_number window
    val p165 = plan("q165_zipf_fit")
    assert(!p165.contains("WindowExec") && !p165.contains("RunningWindow"),
      s"q165 gained a window (GlobalOrder bypassed):\n$p165")
    // q166: q161's contract on the incremental plan — keyed equi joins
    // only, no row windows, no single-partition collapse of the data
    val p166 = plan("q166_substr_incremental")
    assert(!p166.contains("WindowExec") &&
      !p166.contains("Exchange SinglePartition") &&
      !p166.contains("BroadcastNestedLoopJoin"),
      s"q166 lost its equi-join/no-window shape:\n$p166")
  }

  test("q174: chat rendering is a pure map — zero shuffles") {
    val p = plan("q174_chat_template")
    assert(!p.contains("Exchange"), s"q174 gained a shuffle:\n$p")
  }

  test("q175/q178/q179/q181: single keyed agg, no windows, no row self-joins") {
    // each promises ONE map-side-combined keyed agg over the data; a
    // window or self-join reformulation would show up here
    Seq("q175_preference_pairs", "q178_tokenizer_fertility",
      "q179_truncation_loss", "q181_dp_release").foreach { q =>
      val p = plan(q)
      assert(!p.contains("WindowExec") && !p.contains("RunningWindow"),
        s"$q gained a window:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q funnelled data through one partition:\n$p")
      assert(countOf(p, "Exchange") <= 1,
        s"$q pays more than its one keyed agg shuffle:\n$p")
    }
  }

  test("q176: one data-pass agg; split search runs keyed on metadata") {
    val p = plan("q176_decision_stump")
    // cumulative/total windows partition by feature — never single-partition
    assert(!p.contains("Exchange SinglePartition"),
      s"q176 single-partitioned the histogram:\n$p")
  }

  test("q177: per-source top-5 gets WindowGroupLimit map-side (q135 contract)") {
    val p = plan("q177_data_diet")
    assert(countOf(p, "WindowGroupLimit") >= 2,
      s"q177 lost rank-limit pushdown:\n$p")
  }

  test("q184/q185: eval and bootstrap rank via GlobalOrder — no windows anywhere") {
    Seq("q184_retrieval_eval", "q185_bootstrap_ci").foreach { q =>
      val p = plan(q)
      assert(!p.contains("WindowExec") && !p.contains("RunningWindow"),
        s"$q gained a window (GlobalOrder bypassed):\n$p")
    }
  }

  test("q180/q182: model/threshold stages collapse only metadata, never the data") {
    // q180: ranks via GlobalOrder (no window); single-partition stages
    // are the 1-row n_cal/qhat/offset aggs only
    val p180 = plan("q180_conformal")
    assert(!p180.contains("WindowExec") && !p180.contains("RunningWindow"),
      s"q180 gained a window (GlobalOrder bypassed):\n$p180")
    assert(countOf(p180, "Exchange SinglePartition") <= 4,
      s"q180 funnelled the data through one partition:\n$p180")
    // q182: scoring joins broadcast the 256-row model; single-partition
    // collapses are the 1-row totals aggs only (the q163 allowance)
    val p182 = plan("q182_doremi_mix")
    assert(!p182.contains("WindowExec"), s"q182 gained a window:\n$p182")
    assert(countOf(p182, "Exchange SinglePartition") <= 3,
      s"q182 funnelled the token stream through one partition:\n$p182")
  }

  test("q202/q203: serving probes and decontamination stay non-pairwise") {
    // q202: the probe must carry NO cartesian product and NO corpus-wide
    // window — candidates come from the gram-keyed postings join with
    // the PPJoin prunes, verify joins candidates only
    val p202 = plan("q202_setsim_served")
    assert(!p202.contains("CartesianProduct"),
      s"q202 fell back to a cartesian:\n$p202")
    assert(!p202.contains("WindowExec"), s"q202 gained a window:\n$p202")
    // q203: the eval gram set is a plain distinct + join — nothing
    // pairwise, no window, no single-partition stage over data
    val p203 = plan("q203_decontaminate")
    assert(!p203.contains("CartesianProduct"),
      s"q203 went pairwise:\n$p203")
    assert(!p203.contains("WindowExec"), s"q203 gained a window:\n$p203")
    assert(!p203.contains("Exchange SinglePartition"),
      s"q203 funnelled data through one partition:\n$p203")
  }

  test("q204/q205: one partitioned window / keyed-agg shapes, no global sort") {
    // q204 = q77's plan + ONE source-partitioned window; the allowed
    // SinglePartition collapses are q77's 1-row corpus-total aggs, never
    // the doc stream; a global (empty partition spec) window would be
    // the q88-lesson regression
    val p204 = plan("q204_curriculum")
    assert(countOf(p204, "Exchange SinglePartition") <= 2,
      s"q204 funnelled data through one partition:\n$p204")
    assert(!p204.contains("windowspecdefinition()"),
      s"q204 gained an UNPARTITIONED window:\n$p204")
    // q205: fingerprint agg + join + source agg — no window at all
    val p205 = plan("q205_effective_tokens")
    assert(!p205.contains("WindowExec"), s"q205 gained a window:\n$p205")
    assert(!p205.contains("CartesianProduct") &&
      !p205.contains("Exchange SinglePartition"),
      s"q205 lost its keyed-agg shape:\n$p205")
  }

  test("multi-scan ratchet: no query re-reads a source table more than its recorded bound") {
    // The q182/q210 defect-class backstop (judge-ordered after q210 shipped a
    // 4x corpus scan one round after the rule was written down):
    // ExplainAudit.tableScanCounts counts FileSourceScanExec nodes per root
    // path in each query's PHYSICAL plan, read from the catalog snapshot's
    // CACHE-COLD builds (a warm session serves earlier queries' persisted
    // frames and hides their scans: q124/q172 read 0 there, 6 cold). Pinned
    // frames (localCheckpoint) read as RDD scans, so a correctly-pinned
    // multi-consumer dataflow counts its corpus pass ONCE. This is a RATCHET:
    // the table below records each query's current worst per-table scan count
    // (>= 3 only — 1-2 is the default allowance for self-joins / second
    // passes); a new query or an edit may only LOWER a bound, never raise it.
    // The remaining >= 3 rows are design-adjudicated: multi-statistic audits
    // over cheap narrow scans (q99's six FK checks, q112's profile),
    // inherently multi-pass algorithms (q124's greedy rounds, q172's per-span
    // passes), or LSH/sketch families whose bands re-read a doc-sized
    // signature frame — none re-derives an EXPENSIVE corpus transform per
    // consumer (those are the pinned ones: q140 was x30, q150 x17, q88 x15,
    // q95 x12, q210 x4 before round 10).
    val ratchet = Map(
      "q101_mad_outliers" -> 4, "q102_temperature_mix" -> 3,
      "q104_hybrid_indexed" -> 3, "q110_interdup_coverage" -> 3,
      "q111_bigram_lm" -> 4, "q112_profile" -> 4,
      "q113_knn_label_vote" -> 4, "q114_knn_vote_indexed" -> 3,
      "q124_mmr_rerank" -> 6, "q141_setsim_join" -> 6,
      "q142_pmi" -> 5, "q143_dataset_card" -> 3,
      "q144_equidepth_bins" -> 4, "q147_model_eval" -> 3,
      "q148_calibration" -> 4, "q149_setsim_incremental" -> 6,
      "q151_winnowing" -> 4, "q161_substr_dedup" -> 3,
      "q162_hard_negatives" -> 4, "q163_naive_bayes" -> 3,
      "q165_zipf_fit" -> 3, "q166_substr_incremental" -> 4,
      "q167_dedup_agreement" -> 4, "q168_hard_negatives_indexed" -> 3,
      "q172_span_corruption" -> 6, "q180_conformal" -> 5,
      "q183_join_estimate" -> 4, "q187_schema_drift" -> 3,
      "q188_label_noise" -> 3, "q189_model_kappa" -> 4,
      "q192_benford" -> 4, "q196_er_incremental" -> 5,
      "q200_cohort_ltv" -> 3, "q203_decontaminate" -> 3,
      "q204_curriculum" -> 4, "q207_semantic_dedup_indexed" -> 3,
      "q209_decontaminate_bloom" -> 3,
      "q213_semantic_decontaminate_indexed" -> 3,
      "q215_bitext_margin_indexed" -> 4, "q223_audio_fingerprint" -> 3,
      "q36_minhash_lsh" -> 6, "q36b_minhash_lsh_md5" -> 6,
      "q41_ann_lsh" -> 4,
      "q41b_ann_lsh_md5" -> 4, // q41's shape verbatim (md5 bank twin)
      "q64_contamination" -> 4,
      "q68_cosine_pairs_lsh" -> 4, "q68b_cosine_pairs_lsh_md5" -> 4,
      "q74_semantic_dedup" -> 3, "q77_unigram_lm" -> 4,
      "q83_negative_pairs" -> 4, "q88_hybrid_rrf" -> 6,
      "q89_global_ids" -> 3, "q94_sequence_pack" -> 3,
      "q231_step_provenance" -> 3, // q94's adjudicated two-pass lineage
      // narrow word-explode passes: distinct-word segmentation table,
      // per-doc occurrences, and the per-doc-contract base join — each a
      // cheap projection scan, none a re-derived expensive transform
      "q236_unigram_encode" -> 3,
      // (q237_kneser_ney r12: ONE corpus bigram pass into the per-doc
      // type-count pin — model counts AND scoring both derive from it;
      // the remaining visible scan is the narrow doc_id left join)
      "q98_funnel" -> 3, "q99_ref_integrity" -> 6)
    // Driver-action builder queries are SKIPPED, not ratcheted: their
    // builders execute a whole eager pipeline (driver actions +
    // localCheckpoint pins) and return a frame whose physical plan is a
    // local/RDD relation with ZERO file scans — a plan the ratchet is
    // structurally blind to. Each carries its own scan contract instead:
    // q224/q80 are pinned
    // by WebCurateSpec's scanned-exactly-twice contract and
    // CorpusCurateSpec; q208's corpus encode/decode passes are pinned by
    // JpegCodecSpec + the observe-guard.
    val driverActionBuilders = Set(
      "q80_curation_pipeline", "q208_jpeg_ahash", "q224_web_curate_e2e",
      "q233_unigram_train", // 3 EM rounds of driver-held-vocab training
      "q235_warc_front_door", // runs the whole WebCurate pipeline
      "q245_warc_gz_front_door", // q235 over the gzip transport
      "q247_byte_bpe_train") // 3-round driver-held trainer -> local relation
      // (q248 stays ratcheted: its returned plan scans documents once for
      // the doc-word join; training pins are eager and plan-invisible)
    assert(catalog.failures.isEmpty, s"queries failed to plan: ${catalog.failures}")
    val offenders = catalog.records.map(_._1)
      .filterNot(r => driverActionBuilders(r.query)).flatMap { r =>
        val (name, counts) = (r.query, r.scanCounts)
        val worst = if (counts.isEmpty) 0 else counts.values.max
        val allowed = ratchet.getOrElse(name, 2)
        if (worst > allowed)
          Some(s"$name: worst table scanned x$worst (allowed $allowed): " +
            counts.toSeq.sortBy(-_._2).take(3).mkString(", "))
        else None
    }
    assert(offenders.isEmpty,
      "multi-scan ratchet violations (pin the shared frame or pre-aggregate " +
        "— see SCALE.md single-pass rule — or, if the extra pass is the " +
        "designed shape, raise the bound WITH a justification):\n" +
        offenders.mkString("\n"))
  }

  test("silver pipeline is shuffle-free (matches the reference's structure)") {
    import spark.implicits._
    val bronzeish = Seq(("t1", "m1", "u1", BigDecimal("10.00"), "GBP", "SUCCESS"))
      .toDF("txn_id", "merchant_id", "user_id", "amount", "currency", "status")
    val p: DataFrame = graft.transform.Silver.pipeline(bronzeish)
    assert(!p.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}

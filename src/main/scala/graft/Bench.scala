package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): one JSON line with per-query and
  * total wall seconds on SPARK_GRAFT_SF_DIR. */
object Bench {

  /** The PINNED longitudinal subset: the 130 queries of the `485ff45`
    * quiet board (round 13). The interleaved board grows every round
    * and board size alone moved the round-over-round min-sum signal
    * 0.83× → 1.2× between r14 and r15 (larger working set + GC, zero
    * code change on the common queries) — so cross-round latency
    * claims anchor on THIS set, re-run sequentially after the full
    * board with the same membership every round, reported as
    * `fixed_subset` in BENCH_FULL. Do not edit the membership; a new
    * anchor means a new baseline. */
  val FixedSubset: Set[String] = Set(
    "q100_tpch_q21_shape", "q101_tpch_q2_shape", "q102_tpch_q4_shape",
    "q103_tpch_q6_shape", "q104_tpch_q8_shape", "q105_tpch_q9_shape",
    "q106_tpch_q12_shape", "q107_tpch_q13_shape", "q108_tpch_q17_shape",
    "q109_tpch_q20_shape", "q10_setops", "q110_metric_offset",
    "q111_saved_crossmodel", "q112_ctas_script",
    "q113_conversion_metric", "q114_gopher_repetition",
    "q115_contamination", "q116_image_resize", "q117_hourly_metric",
    "q118_c4_filters", "q119_paragraph_dedup", "q11_hex_decode",
    "q120_bpe_tokens", "q121_mixture_sample", "q122_token_shards",
    "q123_percentile_metric", "q124_epoch_repeat", "q125_lm_perplexity",
    "q126_substring_dedup", "q127_incr_embed_neardup", "q128_url_dedup",
    "q129_quality_classifier", "q12_epoch_iso", "q130_domain_cap",
    "q131_substring_rewrite", "q13_watermark_max",
    "q14_incremental_delta", "q15_chunked_report", "q16_dim_fanout",
    "q17_text_stats", "q18_lang_id", "q19_token_regex",
    "q1_pricing_summary", "q20_fingerprint", "q21_dedup_exact",
    "q22_minhash_sig", "q23_lsh_pairs", "q24_lsh_survivors",
    "q25_simhash", "q26_embed_topk", "q27_ann_lsh", "q29_hourly_events",
    "q2_revenue_by_month", "q30_json_props", "q31_media_meta",
    "q32_media_features", "q33_sql_script", "q34_range_scan",
    "q35_scalar_strings", "q36_scalar_dates", "q37_conditionals",
    "q38_sessionize", "q3_region_revenue", "q40_topn_per_group",
    "q41_stats", "q42_semi_anti", "q43_asof_join", "q44_ivf_topk",
    "q45_scalar_math", "q46_hll_distinct", "q47_collect_sorted",
    "q48_pivot", "q49_weekly_granularity", "q4_promo_revenue",
    "q50_quantiles", "q51_chunk_explode", "q52_quality_flags",
    "q53_correlated_subquery", "q54_in_subquery", "q55_range_frame",
    "q56_embed_neardup", "q57_dup_clusters", "q58_hash_split",
    "q59_stratified_sample", "q5_orders_by_priority", "q60_pii_redact",
    "q61_asof_native", "q62_window_ranks", "q63_cube", "q64_array_ops",
    "q65_arg_minmax", "q66_range_join", "q67_setops_all",
    "q68_regexp_extract", "q69_tfidf", "q6_top_customers", "q70_bigrams",
    "q71_derived_metric", "q72_salted_agg", "q73_tpch_q3_shape",
    "q74_tpch_q5_shape", "q75_ivf_kmeans", "q76_cms_heavyhitters",
    "q77_time_spine", "q78_pct_of_total", "q79_cumulative_metric",
    "q7_distinct_counts", "q7a_approx_distinct", "q80_manifest_metrics",
    "q81_image_decode", "q82_tpch_q7_shape", "q83_tpch_q10_shape",
    "q84_tpch_q14_shape", "q85_tpch_q19_shape", "q86_audio_decode",
    "q87_window_offsets", "q88_edit_distance", "q89_cross_model_metrics",
    "q8_rollup_nation", "q90_hist_quantiles", "q91_unpivot",
    "q92_corpus_pipeline", "q93_tpch_q11_shape", "q94_tpch_q16_shape",
    "q95_tpch_q18_shape", "q96_tpch_q22_shape", "q97_video_decode",
    "q98_filtered_metrics", "q99_tpch_q15_shape", "q9_window_events")

  /** The SECOND pinned anchor (round 17): the 167 queries the r16
    * board carries beyond [[FixedSubset]] — the post-r13 operator
    * families (graph, composed dedup, retrieval eval, stats/DQ, text)
    * frozen before they age the way the r13 set did. Round 17 is this
    * set's baseline; compare its min-sum only against rounds >= 17.
    * Same rules as FixedSubset: membership is FROZEN — queries added
    * after r16 (q299+) intentionally stay outside both anchors. */
  val FixedSubsetV2: Set[String] = Set(
    "q132_bloom_seen", "q133_dsir_select", "q134_semdedup",
    "q135_blocklist", "q136_pq_topk", "q137_html_text",
    "q138_token_windows", "q139_seq_pack", "q140_nfc_normalize",
    "q141_weighted_sample", "q142_int8_quantize", "q143_ivfpq_topk",
    "q144_bpe_encode", "q145_ivf_trained", "q146_bm25",
    "q147_ivfpq_trained", "q148_jl_project", "q149_ppl_tiers",
    "q150_jl_topk", "q151_temp_mixture", "q152_incr_metrics",
    "q153_zorder", "q154_kmv_overlap", "q155_data_checks",
    "q156_scd2_snapshot", "q157_incremental_merge", "q158_fuzzy_join",
    "q159_interpolate", "q160_retention_cohorts", "q161_funnel_levels",
    "q162_event_transitions", "q163_ivfpq_indexed",
    "q164_ivf_indexed_filtered", "q165_ivf_index_append", "q166_bpe_train",
    "q167_unigram_entropy", "q168_token_collapse", "q169_kcenter_coreset",
    "q170_cluster_keepers", "q171_pmi_pairs", "q172_pca_power",
    "q173_pca_project", "q174_ngram_novelty", "q175_containment",
    "q176_mad_outliers", "q177_pca_remove", "q178_sparse_cosine",
    "q179_source_tvd", "q180_budget_select", "q181_vocab_coverage",
    "q182_centroid_cosine", "q183_bpe_fertility", "q184_filter_funnel",
    "q185_js_divergence", "q186_zipf_slope", "q187_heaps_curve",
    "q188_rank_normalize", "q189_mrl_recall", "q190_winnow_fingerprint",
    "q191_psi_drift", "q192_dim_standardize", "q193_dedup_curve",
    "q194_funnel_by_source", "q195_dup_flow", "q196_freq_spectrum",
    "q197_calibration", "q198_neyman", "q199_ece", "q200_filter_kappa",
    "q201_readability", "q202_mattr", "q203_quantile_normalize",
    "q204_burst_detect", "q205_source_dispersion", "q206_effective_tokens",
    "q207_auc", "q208_chi_square", "q209_spearman", "q210_bootstrap_ci",
    "q211_ks_test", "q212_token_gini", "q213_winnow_pairs",
    "q214_source_mi", "q215_leakage_split", "q216_softdedup_weights",
    "q217_backoff_lm", "q218_kendall_tau", "q219_winsor_mean",
    "q220_effective_dim", "q221_source_overlap", "q222_oov_rate",
    "q223_dedup_savings", "q224_cramers_v", "q225_hapax_ratio",
    "q226_lognormal_fit", "q227_cluster_sizes", "q228_source_hhi",
    "q229_distinct_n", "q230_lsh_scurve", "q231_sorted_neighbors",
    "q232_uncertainty_coeff", "q233_curriculum", "q234_mink_prob",
    "q235_k_anonymity", "q236_lang_confusion", "q237_char_entropy",
    "q238_log_odds", "q239_heavy_hitters", "q240_rolling_active",
    "q241_int8_quant", "q242_conformal", "q243_script_mix",
    "q244_auc_by_group", "q245_vocab_richness", "q246_winnow_heads",
    "q247_cusum_shift", "q248_pr_curve", "q249_isotonic",
    "q250_stratified_kfold", "q251_rrf_hybrid", "q252_simhash_pairs",
    "q253_cv_auc", "q254_bq_recall", "q255_padding_waste",
    "q256_blocked_dedup", "q257_hybrid_indexed", "q258_pr_by_group",
    "q259_blocked_keepers", "q260_ranking_quality", "q261_int8_topk",
    "q262_bbit_minhash", "q263_rbo", "q264_incr_simhash",
    "q265_l_diversity", "q266_t_closeness", "q267_benford",
    "q268_ewma_chart", "q269_mmr_rerank", "q270_pagerank",
    "q271_hard_negatives", "q272_jaro_winkler", "q273_hits",
    "q274_incr_sorted_neighbors", "q275_ppr", "q276_ab_test",
    "q277_kaplan_meier", "q278_set_sim_join", "q279_cuped",
    "q280_rake_keywords", "q281_market_basket", "q282_triangles",
    "q283_adamic_adar", "q284_label_prop", "q285_diff_in_diff",
    "q286_seed_distance", "q287_theil_sen", "q288_table_diff",
    "q289_profile", "q290_mann_kendall", "q291_assortativity",
    "q292_incr_blocked_dedup", "q293_bigstar_clusters",
    "q294_retrieval_eval", "q295_markov_transitions",
    "q296_markov_stationary", "q297_mad_outliers", "q298_tfidf_cosine")
  /** Demote known-benign per-operator log floods that would otherwise
    * fill the harness's bounded stdout tail (observed: ~2000 chars) and
    * evict the JSON record line. The WindowExec "No Partition Defined"
    * warning fires once per bounded-cardinality global window (banded
    * ranks over `__bk` bucket frames — bounded by construction) and
    * repeated thousands of times in the r17 kill-log. Harness-level
    * only — library code is untouched and a user's own logging config
    * still sees everything. */
  def quietKnownLogFloods(): Unit =
    try {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.config.Configurator
      Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    // Elapsed-clock governor (r17 postmortem): the timed surface grew
    // past the driver's wall budget and GNU timeout killed the JVM
    // before the ONLY result line printed — rc 124, parsed null, the
    // whole round's bench evidence zeroed. Two defenses, both here:
    // (a) the record is emitted INCREMENTALLY (after the board, then
    // after every anchor pass) so a kill degrades the record instead
    // of zeroing it; (b) work is SHED, least-important first (V2
    // anchor → primary anchor → board passes beyond the first), when
    // the clock approaches SPARK_GRAFT_TIME_BUDGET seconds measured
    // from this entry point. Default 2100 s: the full default shape
    // (warm-up + 3 board passes + 3 anchor + 1 V2 pass ≈ 30 min)
    // finishes inside it untouched on a quiet machine; the governor
    // only bites when the machine is slower than planned.
    val tMain = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tMain) / 1e9
    val timeBudget =
      sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "2040").toDouble
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE partition sizing: MEASURED AND REJECTED (r19) —
      // parallelismFirst=false + advisory 256m (the guide §9 baseline)
      // coalesced the byte-tiny-but-compute-dense post-join stages
      // (jaccard/window verifies over array columns) to ONE partition
      // and serialized them: 37-query A/B total 1.35× worse, q278 4×.
      // Spark's parallelism-first default is the right call for this
      // engine's compute profile; left env-overridable for re-tests.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietKnownLogFloods()

    // Warm-up (untimed): run every query once at the smallest SF. This
    // compiles each query's whole-stage codegen and JITs the hot loops
    // (the generated classes are cached by source text, so the timed
    // sf run reuses them), and initializes the scheduler/shuffle/
    // broadcast machinery. At bench SFs the one-time compile cost
    // otherwise dominates several sub-second queries.
    // Execute each query AS WRITTEN: `df.count()` plans a new
    // aggregate on top, letting Catalyst prune every output column —
    // and with them eliminate sorts and even unique-key outer joins
    // feeding only those columns — so a query ending in a projection
    // or left join would be timed as a bare row-count of its inputs.
    // Evaluating the executed plan's RDD materializes every output
    // column (the noop-sink benchmarking pattern) without collecting
    // anything to the driver.
    def exec(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count(); ()
    }

    val warmDir = "/root/testdata/sf0.001"
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
        && new java.io.File(warmDir).exists()) {
      SparkEntry.queries.values.foreach { fn =>
        try { exec(fn(spark, warmDir)) } catch { case _: Throwable => () }
      }
    }

    // INTERLEAVED min-of-N timing: single-shot numbers on a shared
    // machine are noise-dominated, and back-to-back repeats of one
    // query all land inside the same transient load window (round-4's
    // driver run had a contiguous block of queries 2-18x slower than
    // the same commit minutes earlier — all three samples taken inside
    // the spike). So the suite runs as N ROUND-ROBIN PASSES: every
    // query once, then every query again. A load window shorter than
    // N-1 full passes inflates some of each query's samples but leaves
    // at least one quiet, and the per-query min keeps that one.
    //
    // A query that THROWS is recorded as an error, not a (fast, bogus)
    // time: its failed sample is excluded, and a query with no
    // successful sample at all is excluded from the total and surfaced
    // in "errors" — a regression must never IMPROVE the benchmark.
    // 3 passes (r18, was 5): the r17 five-pass board + anchors overran
    // the driver's wall budget and zeroed the record. The board's job
    // is per-query coverage numbers; the cross-round latency signal is
    // the fixed anchors (which keep min-of-3), so the board takes the
    // envelope cut: 3 passes still give the per-query min two chances
    // to dodge a load window, and the whole timed surface lands ~20%
    // below the r16 shape that fit the budget.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // SPARK_GRAFT_ONLY=q115_contamination,q26_embed_topk : time a
    // subset (dev iteration); the driver never sets it, so the
    // per-round numbers always cover the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      names.map(_._1 -> Vector.empty[Double]): _*)
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    val shed = scala.collection.mutable.ArrayBuffer[String]()
    var lastPassDur = 0.0
    var passesDone = 0
    var boardOpen = true
    while (passesDone < nRuns && boardOpen) {
      // Governor: always run pass 1 (a record must exist); shed later
      // passes when the projected finish would eat the anchors' share
      // of the budget. 0.80 leaves ~20% of the budget for the anchors,
      // matching the default shape's anchor/board time split.
      if (passesDone >= 1 && elapsedSec + lastPassDur > 0.80 * timeBudget) {
        shed += s"board_passes_${passesDone + 1}_to_$nRuns"
        boardOpen = false
      } else {
        val tp = System.nanoTime()
        for ((name, fn) <- names) {
          val t0 = System.nanoTime()
          try {
            exec(fn(spark, sfDir))
            samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              errs(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)
          }
        }
        lastPassDur = (System.nanoTime() - tp) / 1e9
        passesDone += 1
        // settle the heap between passes: carrying another pass's
        // garbage into a timed sample is self-inflicted contention
        if (passesDone < nRuns) System.gc()
      }
    }

    // FIXED-SUBSET longitudinal anchors: after the full board, re-run
    // the pinned 130-query `485ff45` set (and then the 167-query V2
    // set) as additional round-robin passes with a settled heap. The
    // full board grows every round, and its size alone moves the
    // common-query min-sum (r14 → r15: 0.83× → 1.2× with zero code
    // change on those queries); these subsets have FIXED membership
    // and load shape, so their min-sums are the numbers to compare
    // across rounds. Skipped when SPARK_GRAFT_ONLY narrows the run
    // (dev iteration) or *_RUNS=0.
    // Primary anchor keeps 3 passes: it is the round-over-round
    // signal, and a min-of-2 still inherited ambient load windows
    // (87 vs 102 s on two same-day runs of identical code).
    val nFixedRuns = sys.env.getOrElse("SPARK_GRAFT_FIXED_RUNS", "3").toInt
    // V2 drops to ONE pass (r18, was 2): its two r17 passes agreed
    // within 1.7%, its job is longitudinal protection for the newer
    // half of the board rather than the headline anchor, and its
    // second pass was 3.5 min of the envelope overrun that zeroed
    // round 17. Its committed baseline is re-stated for min-of-1 in
    // README (the r17 two-pass record carries both pass sums).
    val nFixed2Runs = sys.env.getOrElse("SPARK_GRAFT_FIXED2_RUNS", "1").toInt
    // Per-query pass times in PASS ORDER, NaN marking a failed pass:
    // a fixed-pass failure must surface as an error, not silently
    // shrink the anchor membership (an incomplete anchor compared
    // against a complete baseline looks like a speedup) — r16 ADVICE.
    class Anchor(anchor: Set[String], nPasses: Int) {
      val anchorNames: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
        if (only.isDefined || nPasses <= 0) Seq.empty
        else names.filter { case (n, _) => anchor.contains(n) }
      val expected: Int = anchor.size
      val aSamples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
        anchorNames.map(_._1 -> Vector.empty[Double]): _*)
      val aErrs = scala.collection.mutable.LinkedHashMap[String, String]()
      var passes = 0
      /** One round-robin pass over the membership; returns its wall
        * seconds (feeds the governor's next-pass estimate). */
      def runPass(): Double = {
        System.gc()
        val tp = System.nanoTime()
        for ((name, fn) <- anchorNames) {
          val t0 = System.nanoTime()
          try {
            exec(fn(spark, sfDir))
            aSamples(name) = aSamples(name) :+ (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              aErrs(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)
              aSamples(name) = aSamples(name) :+ Double.NaN
          }
        }
        passes += 1
        (System.nanoTime() - tp) / 1e9
      }
      def raw: Seq[(String, Vector[Double])] =
        anchorNames.map { case (n, _) => n -> aSamples(n) }
    }
    val fixedA = new Anchor(FixedSubset, nFixedRuns)
    val fixed2A = new Anchor(FixedSubsetV2, nFixed2Runs)

    val results = names.map { case (k, _) => k -> samples(k).sorted }
    def med(ts: Seq[Double]): Double = ts(ts.length / 2)
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val timed = results.filter(_._2.nonEmpty)
    // Headline = per-query MIN across passes. External load on a shared
    // machine can only INFLATE a sample, never deflate it (observed
    // pass-to-pass spreads up to 16x on sub-2s queries), so with N
    // round-robin passes the min is the estimator of the code's
    // intrinsic cost that a load window shorter than (N-1) passes
    // cannot touch; medians at those spreads tracked machine load, not
    // regressions. Medians stay in "value_median"/"runs" for the
    // load-vs-regression diagnosis.
    val qs = timed.map { case (k, ts) => "\"" + k + "\":" + f3(ts.head) }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, ts) =>
      val err = errs.get(k).map(m => s""","err":"$m"""").getOrElse("")
      if (ts.isEmpty) "\"" + k + s"""":{"n":0$err}"""
      else "\"" + k +
        s"""":{"median":${f3(med(ts))},"min":${f3(ts.head)},"max":${f3(ts.last)},"n":${ts.length}$err}"""
    }.mkString("{", ",", "}")
    val totalMedian = timed.map(r => med(r._2)).sum
    val total = timed.map(r => r._2.head).sum
    val errsJson = errs.map { case (k, m) => "\"" + k + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    // Anchor JSON with the PER-PASS record (r16 verdict): DESIGN.md's
    // same-code A/B spread (87.2 vs 102.2 s three hours apart) means a
    // single min-sum cannot separate "regressed 1.15x" from "noisy
    // run" — pass_sums carries the error band, queries_passes the
    // per-query per-pass times for post-hoc diagnosis, and `value` is
    // NULLED when any anchor member has no successful pass so an
    // incomplete anchor can never be compared against a complete
    // baseline as if it were one.
    def anchorJson(a: Anchor): (String, Double, Boolean) = {
      val raw = a.raw
      if (raw.isEmpty || a.passes == 0) return ("null", Double.NaN, false)
      val ok = raw.map { case (k, ts) => k -> ts.filterNot(_.isNaN).sorted }
        .filter(_._2.nonEmpty)
      val sum = ok.map(_._2.head).sum
      val complete = ok.length == a.expected
      val fq = ok.map { case (k, ts) => "\"" + k + "\":" + f3(ts.head) }
        .mkString("{", ",", "}")
      val passSums = (0 until a.passes).map { p =>
        val ts = raw.flatMap { case (_, v) =>
          if (p < v.length && !v(p).isNaN) Some(v(p)) else None }
        s"""{"sum":${f3(ts.sum)},"n":${ts.length}}"""
      }.mkString("[", ",", "]")
      val qp = raw.map { case (k, v) =>
        "\"" + k + "\":" + v.map(t => if (t.isNaN) "null" else f3(t))
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val ej = a.aErrs.map { case (k, m) => "\"" + k + "\":\"" + m + "\"" }
        .mkString("{", ",", "}")
      (s"""{"value":${if (complete) f3(sum) else "null"},"sum_present":${f3(sum)},"estimator":"min","n_queries":${ok.length},"n_expected":${a.expected},"complete":$complete,"passes":${a.passes},"pass_sums":$passSums,"errors":$ej,"queries":$fq,"queries_passes":$qp}""",
        sum, complete)
    }
    val slowest = timed.sortBy(r => -r._2.head).take(12)
      .map { case (k, ts) => "\"" + k + "\":" + f3(ts.head) }
      .mkString("{", ",", "}")

    // INCREMENTAL emission (r17 postmortem): the record is (re)written
    // after the board and again after EVERY anchor pass, so a later
    // kill loses at most the in-flight pass, never the record. Two
    // layers per emission: (a) the full per-query line (~9 KB) goes to
    // BENCH_FULL.json (committed with the round) and stdout once after
    // the board and once at the end; (b) a COMPACT summary line, sized
    // to fit entirely inside the harness's ~2 KB stdout tail, is
    // printed on every emission — the driver parses the LAST complete
    // line, so each re-print refreshes the surviving record.
    // Compact anchor keys (r17 ADVICE): `fixed_subset`/`fixed_subset_v2`
    // appear ONLY when the anchor is complete (every member has a
    // successful pass); an incomplete anchor is reported under the
    // distinct `_incomplete` key so its present-queries sum can never
    // be read as a speedup against a complete baseline.
    def emitRecord(printFullLine: Boolean): Unit = {
      val (fixedJson, fixedSum, fixedComplete) = anchorJson(fixedA)
      val (fixed2Json, fixed2Sum, fixed2Complete) = anchorJson(fixed2A)
      val shedJson = shed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val fullLine =
        s"""{"metric":"total","value":${f3(total)},"estimator":"min","value_median":${f3(totalMedian)},"unit":"sec","passes":$passesDone,"passes_requested":$nRuns,"shed":$shedJson,"elapsed_sec":${f3(elapsedSec)},"time_budget_sec":${f3(timeBudget)},"queries":$qs,"errors":$errsJson,"fixed_subset":$fixedJson,"fixed_subset_v2":$fixed2Json,"runs":$detail,"sf":"$sfDir"}"""
      try {
        val w = new java.io.PrintWriter(new java.io.File("BENCH_FULL.json"), "UTF-8")
        try w.println(fullLine) finally w.close()
      } catch { case _: Throwable => () }
      if (printFullLine) println(fullLine)
      def compactAnchor(key: String, sum: Double, complete: Boolean): String =
        if (sum.isNaN) ""
        else if (complete) s""","$key":${f3(sum)}"""
        else s""","${key}_incomplete":${f3(sum)}"""
      val fixedCompact =
        compactAnchor("fixed_subset", fixedSum, fixedComplete) +
        compactAnchor("fixed_subset_v2", fixed2Sum, fixed2Complete)
      println(
        s"""{"metric":"total","value":${f3(total)},"estimator":"min","value_median":${f3(totalMedian)},"unit":"sec","n_queries":${timed.length},"n_errors":${errs.size},"passes":$passesDone$fixedCompact,"shed":$shedJson,"elapsed_sec":${f3(elapsedSec)},"slowest":$slowest,"detail_file":"BENCH_FULL.json","sf":"$sfDir"}""")
      System.out.flush()
    }

    // First record: the board alone. From here on a kill can only
    // degrade the round's bench evidence, not zero it.
    emitRecord(printFullLine = true)

    // Anchor passes under the governor. Shed order when the clock
    // runs hot (r19, the r18 verdict's item 2 — the r18 run shed the
    // PRIMARY anchor while keeping V2, losing the one longitudinal
    // comparator): the 130-query frozen anchor is the round-over-round
    // signal and sheds LAST — it may spend up to 0.97 of the budget
    // (the sliver after it covers the final emit). V2 (min-of-1,
    // redundant with the board's per-query record) runs after and
    // gets only what is left under the same ceiling, so under
    // throttle V2 sheds first and the anchor survives. Board passes
    // 2..N shed earliest (0.80, above). Estimates: the last
    // full-board pass scaled by anchor membership until the anchor
    // has a measured pass of its own.
    val boardCost = lastPassDur / math.max(1, names.length)
    var fixedEst = boardCost * fixedA.anchorNames.length
    var fixedShed = false
    for (p <- 1 to (if (fixedA.anchorNames.isEmpty) 0 else nFixedRuns)) {
      if (!fixedShed && elapsedSec + fixedEst > 0.97 * timeBudget) {
        shed += s"fixed_passes_${p}_to_$nFixedRuns"
        fixedShed = true
      }
      if (!fixedShed) { fixedEst = fixedA.runPass(); emitRecord(false) }
    }
    // V2's estimate uses the WORSE of board-derived and most-recent
    // anchor-derived per-query cost: under a quota-throttle ramp (the
    // observed escalating-tail pattern — later passes of a sustained
    // run read 1.3-1.4x the earlier ones) the board-derived estimate
    // lags reality by a full phase, and an underestimate here is the
    // difference between shedding V2 and blowing the wall budget.
    val fixedCost =
      if (fixedA.passes > 0 && fixedA.anchorNames.nonEmpty)
        fixedEst / fixedA.anchorNames.length
      else boardCost
    var fixed2Est =
      math.max(boardCost, fixedCost) * fixed2A.anchorNames.length
    var fixed2Shed = false
    for (p <- 1 to (if (fixed2A.anchorNames.isEmpty) 0 else nFixed2Runs)) {
      if (!fixed2Shed && elapsedSec + fixed2Est > 0.97 * timeBudget) {
        shed += s"fixed2_passes_${p}_to_$nFixed2Runs"
        fixed2Shed = true
      }
      if (!fixed2Shed) { fixed2Est = fixed2A.runPass(); emitRecord(false) }
    }

    // Final record with the complete anchor story (full line again so
    // the committed BENCH_FULL.json and the log tail agree).
    emitRecord(printFullLine = true)
    spark.stop()
  }
}

#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full materialization with the `noop` sink (no
result discarded early by count()-style column pruning), timed after a
shared-session warmup so JVM startup isn't attributed to query 1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the queries whose plans exercise every engine path —
# wide agg scan, fact-fact shuffle join, snowflake broadcast join,
# semi/anti join, window top-k, text scan ops, similarity join, dedup.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "order_priority_count",
    "top_events_per_user",
    "user_activity_stats",
    "q14_promo_revenue",
    "q8_market_share",
    "q21_latest_shippers",
    "asof_click_attribution",
    "sessionize_events",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "text_stats",
    "token_count",
    "lang_id",
    "ann_cosine_topk",
    "dedup_embedding_cosine",
    "decontamination",
    "funnel_conversion",
    # r05 additions: iterative clustering, substring dedup, importance
    # weighting, codegen funnel, blocked edit-distance join
    "kmeans_clusters",
    "dedup_exact_substring",
    "dsir_importance_weights",
    "quality_filter_funnel",
    "fuzzy_join_customers",
    "cross_source_overlap_matrix",
    "curriculum_buckets",
    # iterative graph rank + the gaps-and-islands window idiom
    "pagerank_trade_graph",
    "activity_streaks",
    # late-r05 families: layout/skew audits, incremental MV merge,
    # posting-list triangle counting
    "zorder_layout_stats",
    "join_skew_profile",
    "incremental_agg_maintenance",
    "triangle_cohorts",
    "hybrid_rrf_retrieval",
    "bitmap_distinct_users",
    "funnel_time_bounded",
    "vocab_growth",
    "scd2_user_type_history",
    "frequent_item_pairs",
    "pareto_revenue_share",
    "ab_test_significance",
    "integrity_audit",
    "interevent_gap_histogram",
    "user_value_trend",
    # r06 additions: robust stats, seasonality chi-square, RFM windows,
    # path mining, containment dedup, readability/skip-gram text scans,
    # mix allocation, checked sketches
    "rfm_segments",
    "chisq_dow_independence",
    "session_path_topk",
    "mad_outliers",
    "dedup_savings_report",
    "dedup_containment",
    "readability_scores",
    "skipgram_pairs",
    "source_epoch_allocation",
    "sketch_user_stats",
    # r07 additions: calendar-spine anomaly twin, corpus inequality
    # audit, sketch-precision calibration, PQ ANN, Bloom membership
    "anomaly_calendar_zscore",
    "token_gini_by_source",
    "minhash_calibration",
    "ann_pq",
    "bloom_decontamination",
    "dataset_mix_temperature",
    "char_bigram_surprisal",
    # r08 additions: URL normalization rollup, cross-epoch Bloom
    # novelty, suffix-array-free longest-dup-substring bound
    "url_canonicalize",
    "epoch_ngram_novelty",
    "longest_dup_substring",
    "winnowing_fingerprints",
    "corpus_snapshot_diff",
    "embedding_drift_by_epoch",
    "shard_plan",
    "quality_threshold_calibration",
    "ann_recall_calibration",
    "length_matched_controls",
    "contamination_attribution",
    # r08 cleaning quartet: line-frequency boilerplate, script/
    # mojibake profile, tokenizer fertility, packing-waste ladder
    "boilerplate_lines",
    "script_mix_profile",
    "tokenizer_fertility",
    "context_window_waste",
    # r08 eval-hygiene pair: cross-split duplicate leakage, rare-token
    # loss curve under the quality filter
    "split_leakage_audit",
    "rare_token_retention",
    # r08 ingest/curation trio: batch-vs-index near-dup, Zipf/hapax
    # spectrum, contrastive hard-negative mining
    "dedup_minhash_incremental",
    "token_freq_spectrum",
    "hard_negative_mining",
    # r08 curation pair: paragraph-level exact dedup, leave-one-out
    # centroid embedding outlier filter
    "paragraph_dedup",
    "embedding_outlier_prune",
    # r08: DoReMi-style per-source distributional-distance audit
    "kl_divergence_by_source",
    # r08: floor-log2 PMI collocation extraction
    "pmi_collocations",
    # r08: within-doc code-switching segmentation
    "lang_segments",
    # r08: perceptual-hash image near-dup over the real decode path
    "image_phash_dedup",
    # r08: the audio twin — frame energy/ZCR fingerprint near-dup
    "audio_fingerprint_dedup",
    # r08: interleave-quality audit of the shuffled training order
    "shard_interleave_audit",
    # r08: explicit mergeable HLL register table (daily → ALL rollup)
    "hll_register_sketch",
    # r08: template/form-letter shape clustering
    "template_spam_clusters",
    # r08: pagination-split reassembly (provable planted recall)
    "split_doc_stitch",
    # r08: distributed BPE tokenizer training (first-K merge ranks)
    "bpe_merge_ranks",
    # r08: LSH banding planner (measured candidates + exact S-curve)
    "lsh_band_planner",
    # r08: shadow audit of a quality-gate revision
    "quality_gate_shadow_audit",
    # r08: BPE train-then-apply per-source compression audit
    "bpe_compression_by_source",
    # r08: pairwise source cross-entropy (domain similarity) matrix
    "cross_source_ce_matrix",
    # r08: composed end-to-end per-doc ingest fate manifest
    "corpus_fate_manifest",
    # r08: provided-label vs detector language QA audit
    "lang_label_noise_audit",
    # r09: duplicated-span removal rewrite (repaired text + audit)
    "dedup_span_repair",
    # r09: composed export manifest (fate-kept -> shuffled shards ->
    # order-sensitive per-shard digest chain)
    "shard_export_manifest",
    # r10: incremental re-export planning (two export replays + a
    # shard-keyed full outer diff)
    "shard_export_diff",
    # r11: the planner's production SAMPLE mode (1-in-8 hash sample,
    # integer-extrapolated counts)
    "lsh_band_planner_sampled",
    # r11: PII detection/redaction audit over the fate-kept population
    "pii_redaction_audit",
    # r11: MinHash-banded near-match decontamination with the high-DF
    # stop-shingle filter
    "fuzzy_decontamination",
    # r12: per-source release datacard (fate breakdown + shipped/
    # redacted volume block over the export's redacted bytes)
    "release_datacard",
    # r13: the materialized-manifest warehouse variants (VERDICT r12
    # item 1) — the release family reading the shipped manifest
    # result tables instead of replaying the composed fate plan. The
    # manifest materialization itself is a one-time setup cost,
    # recorded separately as materialization_setup_sec (min-of-3
    # timing reads the warm path, matching the warehouse claim).
    "shard_export_from_manifest",
    "pii_audit_from_manifest",
    "release_datacard_from_manifest",
    "shard_export_diff_from_manifest",
    # r13: prev-manifest vs evolved-corpus fate transition matrix
    "fate_churn_summary",
    # r13: per-source datacard delta between the shipped release and
    # the evolved corpus (prev from the manifest table, one replay)
    "release_datacard_diff",
    # r13: incremental re-curation planner (reads the duplicate-seeded
    # manifest + canonical-map result tables)
    "fate_recompute_plan",
    # r14 (VERDICT r13 item 3): the fate delta executor family — the
    # incremental reference refresh (reads the prev DF-count state
    # tables; the timed cell is the delta merge the full rebuild
    # avoids) and the plan executor (keep_prev table reads + bounded
    # election + probes against materialized refreshed references)
    "fate_reference_maintenance",
    "fate_apply_plan",
    # r14 (r15 candidate pulled forward): ship-and-consume — the
    # datacard read from the deployed next-manifest result table
    "fate_deploy_cycle",
    # r14: the re-export plan with zero fate replays (prev = shipped
    # export manifest, curr membership = delta-shipped next manifest)
    "shard_export_diff_delta",
    # r14: the re-export EXECUTOR — copy clean shards, re-export dirty
    "shard_export_apply_delta",
    # r14: the nightly diff between two SHIPPED export manifests
    "shard_export_diff_shipped",
    # r14: delta refresh of the fourth gate reference (the canon map)
    "canon_map_maintenance",
]

# Streaming drain bench (VERDICT r09 item 5): none of the 11 streaming
# operators appear in HEADLINE because their cost is a synchronous
# availableNow DRAIN inside build() — the batch noop timing pattern
# works, but the number measures trigger scheduling + state store +
# sink I/O, a different regression surface (foreachBatch, watermark
# finalization) the batch guard can't see. They get their own section
# with the same min-of-3 / host-normalized / 1.5x guard.
STREAMING = [
    "streaming_windowed_counts",
    "streaming_sessionize",
    "streaming_segment_volume",
    "streaming_stream_stream_join",
    "streaming_distinct_daily",
    "streaming_quality_filter",
    "streaming_incremental_mv",
    "streaming_hll_registers",
    "streaming_minhash_ingest_gate",
    "streaming_corpus_fate_gate",
    # r11: the fuzzy-decontamination ingest gate (stop-filtered eval
    # band probe; batch twin is fuzzy_decontamination)
    "streaming_fuzzy_decon_gate",
    # r12: the composed release gate — fate decision (incl. fuzzy) +
    # kept-doc PII projection; batch twin is pii_redaction_audit
    "streaming_pii_redaction_gate",
    # r13 (VERDICT r12 item 2): the same two gates with reference
    # state read from materialized result tables — the drain number
    # production cares about (per-batch probe, no reference rebuild).
    # The inline entries above stay for the inline-vs-tables contrast;
    # the reference-state build rides materialization_setup_sec.
    "streaming_fate_gate_from_tables",
    "streaming_pii_gate_from_tables",
    # r14: the post-rollover gate — per-batch probe of the four
    # DELTA-refreshed reference tables over the shipped evolved
    # snapshot (no corpus-scale rebuild anywhere in its lineage)
    "streaming_fate_gate_rollover",
]

# Streaming ops under this wall-time get 2 extra interleaved reps
# (min-of-5): VERDICT r12 item 7 — streaming_windowed_counts' ~3.5 s
# drain showed stddev 0.51 and kept tripping the batch flag only to be
# exonerated isolated; more samples shrink the min's noise floor where
# a sample is cheap by definition.
_STREAM_EXTRA_REP_UNDER_SEC = 5.0
_STREAM_EXTRA_REPS = 2

# Entries that read the job-materialized warehouse tables, mapped to
# exactly the tables each one opens (ADVICE r13: a subset run used to
# pre-build all five tables whenever ANY consumer was selected, so
# materialization_setup_sec over-reported for subset runs). Bench
# pre-materializes the union for the selected ops (untimed, recorded
# as materialization_setup_sec) before any timed pass so these
# measure the table-READ path. Keys kept in sync with
# tools/scale_sweep._WAREHOUSE_CONSUMERS by test_bench_compare.
_MAT_TABLES = {
    "shard_export_from_manifest": ("manifest",),
    "pii_audit_from_manifest": ("manifest",),
    "release_datacard_from_manifest": ("manifest",),
    "shard_export_diff_from_manifest": ("export_manifest",),
    "fate_churn_summary": ("manifest",),
    "release_datacard_diff": ("manifest",),
    "fate_recompute_plan": ("seeded_manifest", "seeded_canon"),
    "streaming_fate_gate_from_tables": ("fate_reference",),
    "streaming_pii_gate_from_tables": ("fate_reference",),
    # r15 (VERDICT r14 item 1): the formerly inline gates read the
    # same reference tables — their drain cells are probe-only, the
    # one-time build rides this untimed path.
    "streaming_corpus_fate_gate": ("fate_reference",),
    "streaming_pii_redaction_gate": ("fate_reference",),
    "streaming_fuzzy_decon_gate": ("fate_reference",),
    # r14: the delta family. The maintenance op READS the prev-state
    # tables (its cell times the incremental refresh itself); the
    # executor also reads the materialized REFRESHED references (its
    # cell times assembly + probes, the production read path).
    "fate_reference_maintenance": ("delta_state",),
    "fate_apply_plan": ("seeded_manifest", "seeded_canon", "refreshed_refs"),
    "fate_deploy_cycle": ("next_manifest",),
    "shard_export_diff_delta": ("seeded_export_manifest", "next_manifest"),
    "shard_export_apply_delta": (
        "seeded_export_manifest",
        "seeded_manifest",
        "next_manifest",
    ),
    "shard_export_diff_shipped": (
        "seeded_export_manifest",
        "next_export_manifest",
    ),
    "canon_map_maintenance": ("canon_members", "seeded_canon"),
    "streaming_fate_gate_rollover": (
        "evolved_docs",
        "refreshed_canon",
        "refreshed_refs",
    ),
}
_MAT_CONSUMERS = frozenset(_MAT_TABLES)


def _materialize_tables(spark, sf_dir: str, names: set[str]) -> None:
    """Build the named warehouse result tables through the job layer
    (process-cached — a preloaded cache makes this a no-op).

    r14 opt (guide §2.6): independent tables build on a small pool of
    concurrent driver threads — the job layer is a job server, multiple
    in-flight jobs are its normal operating mode, and the warehouse's
    per-key build locks make dependency chains (a builder that first
    materializes its prev-state tables) serialize exactly where they
    must while unrelated builds back-fill the idle cores. Pool width 4:
    enough overlap to hide each build's straggler tail, not so many
    corpus-scale jobs that they fight for executors."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from dungbeetle_spark.operators.fate_delta import warehouse_builders

    builders = warehouse_builders()
    # r15 (VERDICT r14 item 7): submit deepest dependency chains FIRST.
    # Alphabetical submission started next_manifest /
    # next_export_manifest — whose builders chain through seeded
    # manifest → delta state → refreshed refs via the per-key locks —
    # 11-13 s into the 4-wide pool, so the stage's wall clock was
    # "alphabetical head start + full chain". Deep-first lets the
    # longest chain begin at t=0 while shallow tables back-fill; the
    # per-key locks still build every table exactly once.
    depth = {
        "next_export_manifest": 0,
        "next_manifest": 1,
        "refreshed_refs": 2,
        "refreshed_canon": 3,
        "delta_state": 4,
        "seeded_export_manifest": 5,
        "seeded_manifest": 6,
        "seeded_canon": 7,
        "canon_members": 8,
        "evolved_docs": 9,
    }
    ordered = sorted(names, key=lambda t: (depth.get(t, len(depth)), t))
    if len(ordered) <= 1:
        for t in ordered:
            builders[t](spark, sf_dir)
        return
    deco = inheritable_thread_target(spark)
    build_one = lambda t: builders[t](spark, sf_dir)  # noqa: E731
    # Non-pinned mode returns the session, not a decorator — degrade
    # to SEQUENTIAL builds then (ADVICE r14: unpinned threads share
    # JVM thread-locals, so concurrent builds could bleed job groups;
    # same guard as pipeline._materialize_concurrently).
    if not callable(deco) or deco is spark:
        for t in ordered:
            build_one(t)
        return
    run = deco(build_one)
    # Pool width 6 (was 4, r15): a thread whose chain BLOCKS on a
    # per-key lock held by a sibling (next_export_manifest waiting on
    # seeded_manifest, say) parks without submitting jobs, so with 4
    # slots the independent heavy tables (manifest, export_manifest)
    # didn't start until 14-30 s in. Six slots let them start at
    # t=0 while the deep chains hold their locks; effective JOB
    # concurrency stays moderate because the chain threads spend most
    # of their life parked (instrumented spans in OPTIMIZATION_r15.md).
    with ThreadPoolExecutor(min(6, len(ordered))) as ex:
        list(ex.map(run, ordered))


def _mat_tables_for(ops) -> set[str]:
    need: set[str] = set()
    for name in ops:
        need.update(_MAT_TABLES.get(name, ()))
    return need

# Host-drift canary (ADVICE r04: one hardcoded-anchor query is noisy
# and misattributes regressions in that query's own shared path to host
# drift). Anchors: scan/agg queries UNTOUCHED since r01, with their
# r01-measured times (BENCH_r01.json); host_factor is the MEDIAN of
# their ratios, so a real regression in any one anchor can't silently
# skew the factor. The raw total stays the primary metric —
# normalized_total is advisory context for cross-round comparison.
# Host-canary anchors: five queries untouched since r01, whose median
# time ratio vs the anchor values gives each run's host_factor.
#
# Re-anchored in r08 (VERDICT r07 item 7): the r01 anchor times dated
# five rounds back on a host that drifted 1.37x -> 1.41x, so per-anchor
# drift noise was accumulating around the median. The active basis is
# now the r07-measured values (from the provenance-checked
# BENCH_FULL_r07.json); the old r01 basis is kept below for the
# record. Both old and new runs in any comparison are normalized with
# the SAME basis (_median_host_factor is applied to both sides), so
# the re-anchor rescales every host factor consistently and cannot
# skew cross-round ratios; only the absolute host_factor /
# normalized_total scale changes (r07-like host == 1.0 now).
CANARY_R01 = {
    "q6_forecast_revenue": 0.201,
    "q14_promo_revenue": 0.328,
    "order_priority_count": 0.521,
    "text_stats": 0.249,
    "token_count": 0.225,
}
# r07 measured seconds for the same anchors; r01->r07 per-anchor
# ratios 1.463 / 1.598 / 1.409 / 1.345 / 1.289 (median 1.409 — the
# recorded r07 host_factor under the old basis).
CANARY_R07 = {
    "q6_forecast_revenue": 0.294,
    "q14_promo_revenue": 0.524,
    "order_priority_count": 0.734,
    "text_stats": 0.335,
    "token_count": 0.290,
}
CANARY_ANCHORS = CANARY_R07

# Mid-weight text-class anchors (VERDICT r11 item 6). Two rounds
# running, the scan/agg host factor misrepresented the mid-weight TEXT
# class (r10's hf 0.659 recorded fake 0.72 "improvements" for these
# queries, read back as fake 1.3-1.6x "regressions" in r11). The two
# FROZEN queries in dungbeetle_spark/bench_canary.py anchor that class
# directly; queries in _TEXT_CLASS are normalized by the text factor
# whenever BOTH sides of a comparison can compute it (old records
# before r12 carry no text anchors — they fall back to the default
# factor, so r12-vs-r11 ratios are unchanged and the protection fully
# engages from r13 on).
#
# Basis derivation (r12): measured min-of-3 at sf0.1 on the r12 host
# (0.747 / 0.461 s), divided by that run's standard host factor
# (1.166) to land on the same r07-host basis as CANARY_R07.
CANARY_TEXT_R12 = {
    "canary_text_explode_agg": 0.641,
    "canary_text_regex_scan": 0.395,
}
CANARY_TEXT_ANCHORS = CANARY_TEXT_R12

# The queries the text factor normalizes: the documented whipsaw
# victims of the r10/r11 canary artifact (VERDICT r11 "What's wrong"
# item 3). Frozen by name; extend only with evidence.
#
# bpe_merge_ranks added r14, with evidence: the r14 final bench ran on
# a host whose text anchors read 1.38-1.52 vs r13's 0.924 while the
# scan anchors sat near 0.87-0.90, and bpe_merge_ranks — pure
# token-array/string compute, the same class as its sibling
# bpe_compression_by_source (a member since r12, which read a clean
# 1.08 under text normalization that day) — flagged at 1.945 under
# SCAN normalization. Its entire dependency path is byte-identical to
# the judged r13 tree (git diff f10c5d8..HEAD touches only
# funnel_verdicts passthrough in text.py, which bpe does not call),
# and a quiet-host fresh-session probe reproduced the raw slowdown
# with 4-13.6 s spread on an idle VM — external host contention, not
# code. Same artifact class, same fix, as the r11 entries above.
_TEXT_CLASS = frozenset(
    {
        "lang_label_noise_audit",
        "quality_gate_shadow_audit",
        "bpe_compression_by_source",
        "bpe_merge_ranks",
        "corpus_fate_manifest",
    }
)


_REGRESSION_RATIO = 1.5  # normalized per-query ratio that flags

# Sub-second queries are scheduler-noise-dominated at sf0.1 (38 of 101
# headline queries ran <0.6 s in r08; two of the three regression
# flags across r07/r08 were interference artifacts on this class).
# Queries under this normalized floor on BOTH sides of a comparison
# are exempt from the per-query 1.5x guard and instead guarded as ONE
# pooled total, where the noise averages out (VERDICT r08 item 7). A
# genuine blow-up of a tiny query (0.3 s -> 2 s) still lands above the
# floor on the new side, so it keeps its individual flag.
_NOISE_FLOOR_SEC = 0.6

# ADVICE r09: the pool average can dilute a single genuine sub-floor
# regression (0.1 s -> 0.55 s is 5.5x but moves the ~38-member pool
# ratio barely). Pooled members are therefore ALSO flagged
# individually when their absolute normalized delta exceeds
# _POOL_ABS_DELTA_SEC or their ratio exceeds the looser
# _POOL_RATIO_CAP — flagged members rejoin `regressions` and get the
# isolated-rerun confirmation like any other flag.
_POOL_ABS_DELTA_SEC = 0.3
_POOL_RATIO_CAP = 3.0


def _median_host_factor(
    timings: dict[str, float], anchors: dict[str, float] | None = None
) -> float | None:
    """host_factor under the r05+ median method, from any run's
    recorded per-query times — applied to OLD runs too, so a
    comparison never mixes canary methodologies (the r04-vs-r05
    confusion VERDICT r05 item 4 asks to prevent mechanically).
    ``anchors`` selects the anchor set (default: the scan/agg
    CANARY_ANCHORS; pass CANARY_TEXT_ANCHORS for the text class)."""
    if anchors is None:
        anchors = CANARY_ANCHORS
    ratios = sorted(
        timings[name] / anchor
        for name, anchor in anchors.items()
        if timings.get(name)
    )
    return round(ratios[len(ratios) // 2], 3) if ratios else None


def timings_from_tail(tail: str) -> dict[str, float]:
    """Best-effort per-query seconds from a truncated stdout tail.

    BENCH_r06.json recorded "parsed": null because the bench line
    outgrew the driver's stdout capture; the 2000-char "tail" still
    holds the back of the queries dict (everything before the
    `"sf":` key) plus the compare block. Only pairs in the queries
    region are seconds — compare's normalized_ratios share the shape
    but are ratios, so the scan stops at "sf"."""
    import re

    cut = tail.find('"sf":')
    region = tail[:cut] if cut >= 0 else tail
    pairs = re.findall(r'"(\w+)":\s*([0-9]+(?:\.[0-9]+)?)', region)
    return {name: float(sec) for name, sec in pairs}


def timings_from_compare_tail(tail: str, repo: str) -> dict[str, float]:
    """Reconstruct seconds from a truncated tail's compare block.

    Each compare ratio is (new/hf_new)/(old/hf_old); with the prior
    round's recorded seconds (the "against" file) and both host
    factors — all present in the r06-style tail — new_sec inverts to
    ratio * old_sec * hf_new / hf_old. ~1% accurate (3-dp rounding at
    both ends): good enough for the 1.5x regression flag."""
    import re

    m_new = re.search(r'"host_factor":\s*([0-9.]+)', tail)
    m_against = re.search(r'"against":\s*"([^"]+)"', tail)
    m_old = re.search(r'"host_factor_old_median_method":\s*([0-9.]+)', tail)
    cut = tail.find('"normalized_ratios":')
    if not (m_new and m_against and m_old and cut >= 0):
        return {}
    path = os.path.join(repo, m_against.group(1))
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        old = json.load(f)
    if "parsed" in old and isinstance(old["parsed"], dict):
        old = old["parsed"]
    old_q = old.get("queries") or {}
    hf_new, hf_old = float(m_new.group(1)), float(m_old.group(1))
    out: dict[str, float] = {}
    for name, ratio in re.findall(
        r'"(\w+)":\s*([0-9]+(?:\.[0-9]+)?)', tail[cut:]
    ):
        if name in old_q:
            out[name] = round(float(ratio) * old_q[name] * hf_new / hf_old, 3)
    return out


# Flagged regressions with a reviewed, non-accidental cause — either a
# deliberate speed-for-scale trade or a verified cross-round
# measurement artifact — annotated so the compare block explains
# itself. Keyed by query name; entries only attach when that query
# actually crosses the threshold.
_KNOWN_REGRESSIONS = {
    # r11 investigation: several mid-weight text queries read 1.3-1.8x
    # vs the r10 cells while being ~1.0-1.3x vs r09 — the r10 host's
    # canary factor (0.659) overstated that host's slowness on this
    # query class, recording artificially LOW normalized r10 values
    # (the same artifact VERDICT r10 logged in the other direction as
    # 0.72 "improvements" for these very queries). Verified not a code
    # regression: a full A/B against the pre-HOF-rewrite tree
    # (eb40453^) times HEAD equal-or-faster on every one of them
    # (fate 3.30 vs 3.11 — noise; label-noise 1.32 vs 1.53; shadow
    # 0.98 vs 1.17; bpe-compression 2.29 vs 2.54).
    "corpus_fate_manifest": (
        "r12 composition (VERDICT r11 item 1): the manifest gained the "
        "fuzzy-decontamination stage — shingle-DF stop stats, the "
        "survivor signature aggregate, and the broadcast eval band "
        "probe are real added work (~the standalone op's cost) that "
        "buys the edited-benchmark-copy gap closure. Deliberate."
    ),
    "streaming_corpus_fate_gate": (
        "r12 composition: the gate mirrors the manifest's new fuzzy "
        "stage (reference state + per-batch survivor probe). "
        "Deliberate; see corpus_fate_manifest."
    ),
    "shard_export_manifest": (
        "r12 composition: inherits the manifest's fuzzy stage AND "
        "folds PII seed+redact into the digest projection (VERDICT "
        "r11 item 2) — the digest now covers the shipped redacted "
        "bytes. Deliberate."
    ),
    "shard_export_diff": (
        "r12 composition: both export replays inherit the fuzzy stage "
        "and the redaction projection (2x shard_export_manifest's "
        "delta by construction; production reads prev from the "
        "manifest table and pays it once). Deliberate."
    ),
    "pii_redaction_audit": (
        "r12 composition: membership inherits the manifest's fuzzy "
        "stage (the audit scores exactly the export population). "
        "Deliberate."
    ),
    "streaming_pii_redaction_gate": (
        "historical (pre-r15) inline fixture: the drain rebuilt the "
        "full fate reference state per run. Since r15 the gate reads "
        "the materialized reference tables like its _from_tables twin "
        "(VERDICT r14 item 1), so any NEW flag is a real probe-path "
        "regression."
    ),
    "streaming_sessionize": (
        "r14 attribution of the r13 confirmed flag (VERDICT r13 item "
        "1): fresh-session worktree A/B at the r12 boundary (ee17a8c, "
        "3 alternating sessions per tree, min-of-3 drains each) timed "
        "r13 HEAD equal-or-FASTER (3.91/4.19/4.42 s vs r12's "
        "5.02/6.07/7.57), and fresh-session HEAD lands on the "
        "r12-recorded 4.09 s. The 2.86→7.60 s r10→r13 creep was "
        "SESSION POSITION (drains ran after a batch section that "
        "grows every round); drains now run in a fresh-session "
        "subprocess. Any new flag is a real code regression."
    ),
    "streaming_distinct_daily": (
        "r14 attribution, same A/B as streaming_sessionize: trees tie "
        "(fresh-session HEAD ~2.6 s vs r12 tree ~3.0; r12-recorded "
        "2.69). The r13 flag was session position, fixed by the "
        "fresh-session drain worker."
    ),
    "streaming_stream_stream_join": (
        "r14 attribution, same A/B: fresh-session HEAD ~9.1 s vs r12 "
        "tree 9.8-14.1 (r12-recorded 10.9). The r10→r13 5.9→15.4 s "
        "creep was session position, fixed by the fresh-session "
        "drain worker."
    ),
    "lang_label_noise_audit": (
        "r10-cell normalization artifact: ~1.2x vs r09 (r09 norm "
        "1.50); r10's 1.13 is the outlier. HEAD A/B vs pre-HOF tree "
        "is FASTER (1.32 vs 1.53 s). No r11 plan change touches this "
        "query."
    ),
    "curriculum_buckets": (
        "r07 rework (VERDICT r06 item 3): doc-scale global NTILE -> "
        "range-partitioned prefix-sum; ~0.4s fixed extra jobs at "
        "sf0.1 buys removal of the Exchange SinglePartition task"
    ),
    "dedup_minhash_incremental": (
        "r11 leader-cap (VERDICT r10 item 1): the corpus bucket-sizing "
        "window adds ~0.3-0.4s constant at sf0.1 and buys the x32 "
        "mega-bucket bound (11.4s -> 3.7s, top segment 1.10 -> 0.39); "
        "absent in the warehouse shape where the capped index is "
        "materialized at build time"
    ),
}


def _ratio_guard(
    timings: dict[str, float],
    host_factor: float | None,
    old_timings: dict[str, float],
    old_factor: float | None,
    text_factor: float | None = None,
    old_text_factor: float | None = None,
) -> dict:
    """The normalized per-query regression guard, shared by the batch
    compare and the streaming-drain compare: ratios after dividing out
    each run's own median host factor, a 1.5x flag per query, the
    sub-second noise pool, and (ADVICE r09) individual flags for
    pooled members whose absolute delta or looser ratio cap betrays a
    real regression hiding under the floor. Queries in _TEXT_CLASS
    normalize by the text-class factors instead — but only when BOTH
    sides carry them (VERDICT r11 item 6; mixing a text factor on one
    side with a scan/agg factor on the other would itself skew the
    ratio, the exact artifact this fixes)."""
    if not host_factor or not old_factor:
        # without both host factors every query below would be skipped
        # and the block would read as a clean all-clear (r10 review
        # finding: a streaming-only SPARK_GRAFT_BENCH_QUERIES subset
        # has no batch timings, hence no host factor). Say so instead.
        return {
            "note": "comparison unavailable: missing host factor "
            f"(new={host_factor}, old={old_factor})",
            "normalized_ratios": {},
            "regressions": None,
        }
    text_pair_ok = bool(text_factor and old_text_factor)
    ratios: dict[str, float] = {}
    pool_members: dict[str, tuple[float, float]] = {}
    pool_new = pool_old = 0.0
    for name, new_sec in timings.items():
        old_sec = old_timings.get(name)
        if not old_sec:  # both factors guaranteed by the guard above
            continue
        nf, of = host_factor, old_factor
        if text_pair_ok and name in _TEXT_CLASS:
            nf, of = text_factor, old_text_factor
        new_norm, old_norm = new_sec / nf, old_sec / of
        ratios[name] = round(new_norm / old_norm, 3)
        if max(new_norm, old_norm) < _NOISE_FLOOR_SEC:
            pool_members[name] = (new_norm, old_norm)
            pool_new += new_norm
            pool_old += old_norm
    pool_flagged = sorted(
        (
            name
            for name, (nn, on) in pool_members.items()
            if nn - on > _POOL_ABS_DELTA_SEC or nn / on > _POOL_RATIO_CAP
        ),
        key=lambda n: -ratios[n],
    )
    regressions = sorted(
        (
            name
            for name, r in ratios.items()
            if r > _REGRESSION_RATIO and name not in pool_members
        ),
        key=lambda n: -ratios[n],
    )
    # pooled-but-flagged members rejoin the individually-guarded set
    # (and the isolated-rerun confirmation downstream)
    regressions += [n for n in pool_flagged if n not in regressions]
    return {
        "normalized_ratios": ratios,
        "regression_threshold": _REGRESSION_RATIO,
        "regressions": regressions,
        "noise_floor_sec": _NOISE_FLOOR_SEC,
        "subsecond_pool": {
            "n": len(pool_members),
            "new_norm_sec": round(pool_new, 3),
            "old_norm_sec": round(pool_old, 3),
            "ratio": (
                round(pool_new / pool_old, 3) if pool_old else None
            ),
            "regressed": bool(
                pool_old and pool_new / pool_old > _REGRESSION_RATIO
            ),
            "member_abs_delta_sec": _POOL_ABS_DELTA_SEC,
            "member_ratio_cap": _POOL_RATIO_CAP,
            "flagged_members": pool_flagged,
        },
    }


def _compare_block(timings: dict[str, float], host_factor: float | None,
                   against_path: str,
                   text_factor: float | None = None) -> dict:
    """Normalized per-query ratios vs a prior BENCH_r*.json, with a
    regressions list (> _REGRESSION_RATIO after dividing out each
    run's own median host factor; _TEXT_CLASS queries use the
    text-class factor when both rounds carry text anchors)."""
    with open(against_path) as f:
        old = json.load(f)
    tail = old.get("tail") if isinstance(old, dict) else None
    if "parsed" in old and isinstance(old["parsed"], dict):
        old = old["parsed"]  # driver-recorded BENCH_r*.json wrap
    old_timings: dict[str, float] = old.get("queries", {})
    salvaged = False
    note = None
    full = _full_record_for(against_path, old)
    if not old_timings:
        # r08+ compact stdout form (or a parsed-null truncated round
        # with a pinned archive): per-query timings live in the round's
        # archived full record, not on the line itself.
        if full:
            old_timings = full.get("queries", {})
            note = "old timings loaded from archived full record"
    if not old_timings and isinstance(tail, str):
        # the prior round's line was cut (r06): salvage from its tail
        # so the comparison isn't silently empty
        repo = os.path.dirname(os.path.abspath(against_path))
        old_timings = timings_from_compare_tail(tail, repo)
        old_timings.update(timings_from_tail(tail))  # direct values win
        salvaged = bool(old_timings)
    old_factor = _median_host_factor(old_timings)
    # the old round's text-canary timings live in its full record's
    # canary block (slim driver lines strip them); recompute the old
    # text factor against the CURRENT anchor constants, same
    # same-basis discipline as _median_host_factor
    old_text_factor = _median_host_factor(
        (((full or old).get("canary") or {}).get("text_anchors") or {}),
        CANARY_TEXT_ANCHORS,
    )
    block = {
        "against": os.path.basename(against_path),
        "host_factor_old_median_method": old_factor,
        "host_factor_old_as_recorded": old.get("canary", {}).get(
            "host_factor"
        ),
    }
    if text_factor or old_text_factor:
        block["host_factor_text_old"] = old_text_factor
    block.update(
        _ratio_guard(
            timings,
            host_factor,
            old_timings,
            old_factor,
            text_factor,
            old_text_factor,
        )
    )
    # regressions is None when the guard declared comparison
    # unavailable (missing host factor) — not an empty all-clear
    known = {n: _KNOWN_REGRESSIONS[n] for n in block["regressions"] or ()
             if n in _KNOWN_REGRESSIONS}
    if known:
        block["known_regressions"] = known
    if salvaged:
        note = "old timings salvaged from truncated driver tail"
    if note:
        block["note"] = note
    return block


def confirm_regressions(
    compare: dict, timings: dict[str, float], isolated_min
) -> None:
    """Self-verifying regression guard (VERDICT r08 item 3): both
    guard flags across r07/r08 (char_bigram_surprisal, dedup_exact)
    were batch-interference artifacts that an isolated re-run cleared.
    Any flagged query is re-timed alone — ``isolated_min(name)`` runs
    it with nothing else on the session — and only a flag the isolated
    minimum CONFIRMS stays in ``regressions``; both numbers are
    recorded either way in ``regression_checks``. The re-run stays
    in-session deliberately: a fresh JVM would re-pay codegen/JIT
    warmup and bias toward false confirmation. Mutates ``compare`` in
    place."""
    checks: dict[str, dict] = {}
    confirmed: list[str] = []
    for name in compare["regressions"]:
        isolated = isolated_min(name)
        batch = timings[name]
        batch_ratio = compare["normalized_ratios"][name]
        # ratio is linear in new_sec, so rescale instead of
        # re-deriving old_sec/old_factor
        iso_ratio = round(batch_ratio * min(isolated, batch) / batch, 3)
        is_real = iso_ratio > _REGRESSION_RATIO
        checks[name] = {
            "batch_sec": batch,
            "isolated_sec": isolated,
            "batch_ratio": batch_ratio,
            "isolated_ratio": iso_ratio,
            "confirmed": is_real,
        }
        if is_real:
            confirmed.append(name)
    compare["flagged_batch"] = compare["regressions"]
    compare["regression_checks"] = checks
    compare["regressions"] = confirmed
    # known_regressions was annotated from the batch flags; re-derive
    # it from the CONFIRMED set so a demoted interference artifact
    # can't ship annotated as a crossed-threshold known regression
    known = {
        n: _KNOWN_REGRESSIONS[n]
        for n in confirmed
        if n in _KNOWN_REGRESSIONS
    }
    if known:
        compare["known_regressions"] = known
    else:
        compare.pop("known_regressions", None)


def _streaming_compare(
    timings: dict[str, float],
    host_factor: float | None,
    against_path: str,
    session_mode: str = "fresh",
) -> dict | None:
    """Cross-round guard for the streaming-drain section. The prior
    per-op drain times live in the full record (BENCH_FULL_r{N}.json /
    fingerprint-matched BENCH_FULL.json); the old host factor comes
    from the prior BATCH canary — host drift is a host property, and
    the streaming ops have no r01 anchors of their own.

    Normalization class (VERDICT r13 item 2c, decided r14): drains
    keep the scan/agg factor. The r13 flags that motivated the
    class question (sessionize 1.99 scan-normalized vs 1.58
    text-normalized) were attributed by fresh-session worktree A/B to
    session position, not class skew — with position removed there is
    no evidence either canary class misrepresents the drains, and the
    Python-stateful drains' cost profile (Arrow state store, fork
    pool) matches neither class anyway. The compare records both
    session modes; a fresh-vs-inline ratio reads LOW by construction
    (the old cell was position-inflated), which is the expected
    one-time step in the r14 record."""
    try:
        with open(against_path) as f:
            old = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    if isinstance(old, dict) and isinstance(old.get("parsed"), dict):
        old = old["parsed"]
    # the prior record counts only if its streaming section carries the
    # per-op drain times: a driver-recorded slim line has streaming =
    # {total, n, ...} with 'queries' stripped by emit_bench_line, and
    # taking it at face value would skip the archived full record and
    # self-disable this guard from the first slim round onward (r10
    # review finding)
    full = (
        old
        if (old.get("streaming") or {}).get("queries")
        else _full_record_for(against_path, old)
    )
    old_stream = ((full or {}).get("streaming") or {}).get("queries") or {}
    block = {"against": os.path.basename(against_path)}
    if not old_stream:
        block["note"] = "no streaming section in prior record"
        return block
    old_factor = _median_host_factor(full.get("queries") or {})
    block["host_factor_old_median_method"] = old_factor
    block["session_mode"] = {
        "new": session_mode,
        "old": ((full or {}).get("streaming") or {}).get(
            "session_mode", "inline"
        ),
    }
    block.update(_ratio_guard(timings, host_factor, old_stream, old_factor))
    known = {
        n: _KNOWN_REGRESSIONS[n]
        for n in block.get("regressions") or ()
        if n in _KNOWN_REGRESSIONS
    }
    if known:
        block["known_regressions"] = known
    return block


def cross_round_context(
    compare: dict,
    timings: dict[str, float],
    host_factor: float | None,
    against_path: str,
    text_factor: float | None = None,
) -> None:
    """Informational second opinion on CONFIRMED regressions (r11
    investigation: a one-off fast cell in the prior round's record —
    e.g. a host whose canary factor misrepresents one query class —
    reads as a regression a round later). For each confirmed flag,
    recompute the normalized ratio against the round BEFORE the
    compared one and ship it in ``regression_checks``, so a flag
    whose older-round ratio sits under the threshold is visibly a
    prior-cell anomaly rather than necessarily a new slowdown.
    Informational only — it never clears a flag, because "flat vs two
    rounds ago" can equally mean "reverted the prior round's real
    optimization"; that judgment lives in ``_KNOWN_REGRESSIONS``."""
    rnd = _round_of(against_path)
    if rnd is None or not host_factor:
        return
    prev = f"{int(rnd) - 1:0{len(rnd)}d}"
    repo = os.path.dirname(os.path.abspath(against_path))
    path = os.path.join(repo, f"BENCH_FULL_r{prev}.json")
    if not os.path.exists(path):
        return
    try:
        with open(path) as f:
            old_full = json.load(f)
    except (OSError, json.JSONDecodeError):
        return
    old_q = old_full.get("queries") or {}
    old_factor = _median_host_factor(old_q)
    if not old_factor:
        return
    # ADVICE r12: normalize _TEXT_CLASS queries with the text-class
    # factors here too — same both-sides-or-fallback rule as
    # _ratio_guard, so the advisory second-opinion ratio can never mix
    # normalization methodologies with the primary ratio it sits next
    # to. The factor kind used is recorded alongside the number.
    old_text_factor = _median_host_factor(
        ((old_full.get("canary") or {}).get("text_anchors") or {}),
        CANARY_TEXT_ANCHORS,
    )
    text_pair_ok = bool(text_factor and old_text_factor)
    # setdefault, not `.get(...) or {}`: if regression_checks were ever
    # absent (confirm_regressions not run first) the annotations below
    # would land in a detached dict and silently vanish (ADVICE r11).
    checks = compare.setdefault("regression_checks", {})
    for name in compare.get("regressions") or ():
        if old_q.get(name) and timings.get(name) and name in checks:
            nf, of = host_factor, old_factor
            kind = "default"
            if text_pair_ok and name in _TEXT_CLASS:
                nf, of = text_factor, old_text_factor
                kind = "text"
            checks[name][f"ratio_vs_r{prev}"] = round(
                (timings[name] / nf) / (old_q[name] / of),
                3,
            )
            checks[name][f"ratio_vs_r{prev}_factor"] = kind


def _round_of(bench_path: str) -> str | None:
    """The round's digit string, padding preserved: the driver writes
    BENCH_r07.json, so the archive must be BENCH_FULL_r07.json."""
    import re

    m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(bench_path))
    return m.group(1) if m else None


def _fingerprint_matches(full: dict, parsed: dict) -> bool:
    """A full record belongs to a compact stdout line iff the total
    wall value and sf agree — the value is a sum of ~60 ms-precision
    timings, so an accidental collision across runs is implausible."""
    try:
        return (
            abs(float(full["value"]) - float(parsed["value"])) < 0.005
            and full.get("sf") == parsed.get("sf")
        )
    except (KeyError, TypeError, ValueError):
        return False


def _full_record_for(against_path: str, parsed: dict | None) -> dict | None:
    """Locate the full bench record for a compact driver line: the
    archived BENCH_FULL_r{N}.json if present, else BENCH_FULL.json when
    its fingerprint still matches (i.e. no newer run overwrote it).

    For a parsed-null round (truncated line, no fingerprint to check —
    r06/r07) only the round-stamped archive is trusted: it was pinned
    deliberately, with provenance checked against the recorded tail
    (BENCH_FULL_r07.json: all 46 tail-salvageable pairs match exactly).
    """
    repo = os.path.dirname(os.path.abspath(against_path))
    rnd = _round_of(against_path)
    if rnd is not None:
        path = os.path.join(repo, f"BENCH_FULL_r{rnd}.json")
        if os.path.exists(path):
            try:
                with open(path) as f:
                    return json.load(f)
            except (OSError, json.JSONDecodeError):
                pass
    if not parsed or "value" not in parsed:
        return None
    path = os.path.join(repo, "BENCH_FULL.json")
    if os.path.exists(path):
        try:
            with open(path) as f:
                full = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        if _fingerprint_matches(full, parsed):
            return full
    return None


def archive_full_records(repo_dir: str) -> list[str]:
    """Pin BENCH_FULL.json to its round before a new run overwrites it.

    For every driver-recorded BENCH_r{N}.json whose parsed line is the
    compact form (``queries_file`` pointer, no per-query dict), if the
    current BENCH_FULL.json fingerprint-matches it and
    BENCH_FULL_r{N}.json does not exist yet, copy it there. Runs at
    the top of main() so an interim local bench can never clobber the
    only full record a future cross-round compare depends on."""
    import re
    import shutil

    archived = []
    full_path = os.path.join(repo_dir, "BENCH_FULL.json")
    if not os.path.exists(full_path):
        return archived
    try:
        with open(full_path) as f:
            full = json.load(f)
    except (OSError, json.JSONDecodeError):
        return archived
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if not m:
            continue
        dest = os.path.join(repo_dir, f"BENCH_FULL_r{m.group(1)}.json")
        if os.path.exists(dest):
            continue
        try:
            with open(os.path.join(repo_dir, fn)) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = rec.get("parsed") if isinstance(rec, dict) else None
        if not isinstance(parsed, dict) or not parsed.get("queries_file"):
            continue
        if _fingerprint_matches(full, parsed):
            shutil.copyfile(full_path, dest)
            archived.append(os.path.basename(dest))
    return archived


# The driver captured only a 2000-char TAIL of bench stdout in r06 and
# r07 — both rounds' lines (4.3 KB / 2.6 KB) were cut and recorded as
# "parsed": null. Budget the line WELL under that observed floor; the
# compact form below measures a few hundred bytes, so even a 10x
# headline growth can't tip it.
_STDOUT_LINE_BUDGET = 1600

# r15 (VERDICT r14 item 2): the driver's PERF comparator reads
# per-query seconds from the PARSED STDOUT LINE itself — two rounds of
# `queries_file` pointers left PERF's per_query/n_common empty and
# now_bench_ok false. The full 137-entry map (~3.7 KB) cannot ride a
# line the driver captures as a 2000-char tail (the r06/r07 cut lines
# prove the cap), so the line carries the MOST EXPENSIVE per-query
# entries that fit under this hard cap — in practice every query above
# the noise floor, i.e. the entire cost surface a round-over-round
# comparison can say anything about — and `queries_omitted` counts the
# sub-noise tail whose seconds live only in BENCH_FULL.json.
# Additions-only: every pre-r15 line field keeps its meaning and its
# shedding priority; the budgeted queries ride in whatever space the
# compact form leaves under the cap.
_STDOUT_LINE_HARD_CAP = 1950


def _insert_queries_budgeted(
    slim: dict,
    batch_q: dict[str, float] | None,
    stream_q: dict[str, float] | None,
    cap: int = _STDOUT_LINE_HARD_CAP,
) -> dict:
    """Insert per-query seconds into the finalized slim line, most
    expensive first (batch entries to the top-level ``queries`` key in
    the driver contract's position, streaming drains to
    ``streaming.queries``), stopping at the first entry that would push
    the serialized line past ``cap``. Greedy-by-cost gives the prefix
    property: if a query is present, so is everything at least as
    expensive — the set the regression guard and any geomean actually
    hinge on. Values are 2-dp rounded (full 3-dp precision stays in
    BENCH_FULL.json)."""
    if not isinstance(slim.get("streaming"), dict):
        stream_q = None  # no streaming block to carry them
    items = sorted(
        [(-sec, name, "b") for name, sec in (batch_q or {}).items()]
        + [(-sec, name, "s") for name, sec in (stream_q or {}).items()]
    )
    bq: dict[str, float] = {}
    sq: dict[str, float] = {}

    def _put_batch(out: dict) -> None:
        if bq:
            out["queries"] = bq
        if batch_q and len(bq) < len(batch_q):
            out["queries_omitted"] = len(batch_q) - len(bq)

    def _assembled() -> dict:
        out: dict = {}
        for k, v in slim.items():
            if k == "sf":
                # the driver contract's documented key order puts
                # "queries" right before "sf"
                _put_batch(out)
            if k == "streaming" and isinstance(v, dict) and sq:
                v = dict(v)
                v["queries"] = sq
                if stream_q and len(sq) < len(stream_q):
                    v["queries_omitted"] = len(stream_q) - len(sq)
            out[k] = v
        if "sf" not in slim:
            _put_batch(out)  # no contract anchor: append at the end
        return out

    best = _assembled()
    for negsec, name, kind in items:
        target = bq if kind == "b" else sq
        target[name] = round(-negsec, 2)
        trial = _assembled()
        if len(json.dumps(trial)) > cap:
            del target[name]
            break
        best = trial
    return best


def emit_bench_line(out: dict, full_name: str = "BENCH_FULL.json") -> str:
    """Serialize the bench result for stdout — the compact form plus
    as many per-query seconds as fit under the capture cap.

    The FULL per-query dict, per-query compare ratios, and canary
    anchor detail live in BENCH_FULL.json (archived per round as
    BENCH_FULL_r{N}.json, see archive_full_records); stdout carries
    the scalars a round summary needs (total, normalized total, host
    factor, regression names, median compare ratio) and — r15, VERDICT
    r14 item 2 — a cost-ordered prefix of the per-query seconds in the
    driver contract's ``queries`` position, cut to keep the line under
    the driver's observed 2000-char stdout capture. A shedding guard
    drops the compare block entirely if some future field ever pushes
    the base line past the budget — a parseable line always wins over
    a complete one.
    """
    slim = dict(out)
    slim["n_queries"] = len(slim.get("queries") or {})
    slim["queries_file"] = full_name
    slim.pop("queries", None)
    slim.pop("query_spread_stddev", None)
    cmp_full = slim.pop("compare", None)
    if cmp_full is not None:
        ratios = cmp_full.get("normalized_ratios") or {}
        vals = sorted(ratios.values())
        # static thresholds/constants (regression_threshold,
        # noise_floor_sec, the pool's cap constants) live in
        # BENCH_FULL.json — shedding them from the line buys ~10 more
        # per-query entries under the capture cap (r15)
        slim["compare"] = {
            k: v
            for k, v in cmp_full.items()
            if k not in ("normalized_ratios", "regression_checks",
                         "known_regressions", "regression_threshold",
                         "noise_floor_sec")
        }
        if isinstance(slim["compare"].get("subsecond_pool"), dict):
            slim["compare"]["subsecond_pool"] = {
                k: v
                for k, v in slim["compare"]["subsecond_pool"].items()
                if k in ("n", "ratio", "regressed", "flagged_members")
            }
        # the known-regression ANNOTATIONS are paragraphs (the r12
        # composed-family entries pushed the line past the stdout
        # budget, dropping the whole compare block — the exact
        # unexplained-flag failure VERDICT r11 item 5 is about);
        # stdout carries the names, BENCH_FULL the prose.
        if cmp_full.get("known_regressions"):
            slim["compare"]["known_regressions"] = sorted(
                cmp_full["known_regressions"]
            )
        slim["compare"]["n_compared"] = len(vals)
        if vals:
            slim["compare"]["median_ratio"] = vals[len(vals) // 2]
        # VERDICT r11 item 5: flagged_batch without its exoneration
        # made BENCH_r11 show an unexplained flag (the isolated-rerun
        # demotion lived only in BENCH_FULL). Carry the verdict inline
        # whenever anything was flagged.
        checks = cmp_full.get("regression_checks") or {}
        flagged = cmp_full.get("flagged_batch") or ()
        if flagged:
            slim["compare"]["flag_resolution"] = {
                n: {
                    "isolated_ratio": (checks.get(n) or {}).get(
                        "isolated_ratio"
                    ),
                    "confirmed": (checks.get(n) or {}).get("confirmed"),
                }
                for n in flagged
            }
    canary = slim.get("canary") or {}
    slim["canary"] = {
        "host_factor": canary.get("host_factor"),
        "host_factor_text": canary.get("host_factor_text"),
        "note": "detail in BENCH_FULL.json",
    }
    s_full = slim.pop("streaming", None)
    if s_full is not None:
        s_slim = {
            "total": s_full.get("total"),
            "n": len(s_full.get("queries") or {}),
        }
        if s_full.get("session_mode"):
            s_slim["session_mode"] = s_full["session_mode"]
        # the cumulative anchor's worst entry rides the slim line so a
        # monotone multi-round creep is visible in the driver record
        # itself, not only in BENCH_FULL (VERDICT r13 item 2b)
        vs_oldest = s_full.get("vs_oldest") or {}
        if vs_oldest:
            worst = max(vs_oldest, key=lambda n: vs_oldest[n]["ratio"])
            s_slim["vs_oldest_max"] = {"name": worst, **vs_oldest[worst]}
        s_cmp = s_full.get("compare")
        if isinstance(s_cmp, dict):
            s_slim["regressions"] = s_cmp.get("regressions")
            s_ratios = sorted((s_cmp.get("normalized_ratios") or {}).values())
            if s_ratios:
                s_slim["median_ratio"] = s_ratios[len(s_ratios) // 2]
            if s_cmp.get("note"):
                s_slim["note"] = s_cmp["note"]
            # VERDICT r12 item 4: mirror the batch block's
            # self-exoneration — a streaming flag must ship with its
            # isolated-rerun verdict and its known-regression names,
            # or the driver artifact shows an unexplained regression
            # (exactly what r12's streaming slim did).
            if s_cmp.get("known_regressions"):
                s_slim["known_regressions"] = sorted(
                    s_cmp["known_regressions"]
                )
            s_checks = s_cmp.get("regression_checks") or {}
            s_flagged = s_cmp.get("flagged_batch") or ()
            if s_flagged:
                s_slim["flag_resolution"] = {
                    n: {
                        "isolated_ratio": (s_checks.get(n) or {}).get(
                            "isolated_ratio"
                        ),
                        "confirmed": (s_checks.get(n) or {}).get("confirmed"),
                    }
                    for n in s_flagged
                }
        slim["streaming"] = s_slim
    if len(json.dumps(slim)) > _STDOUT_LINE_BUDGET:
        # progressive shedding: the per-flag resolution detail goes
        # first (names survive in regressions/known_regressions), the
        # whole compare block only as the last resort — a parseable
        # line always wins over a complete one, but an explained flag
        # beats neither. Streaming detail sheds INDEPENDENTLY of the
        # batch compare (ADVICE r13: nesting it under the batch-compare
        # guard meant a run with streaming flags but no batch compare
        # never shed it).
        if isinstance(slim.get("streaming"), dict):
            slim["streaming"].pop("flag_resolution", None)
            slim["streaming"].pop("vs_oldest_max", None)
        if isinstance(slim.get("compare"), dict):
            slim["compare"].pop("flag_resolution", None)
        if len(json.dumps(slim)) > _STDOUT_LINE_BUDGET:
            slim.pop("compare", None)
            slim["compare_file"] = full_name
    # r15 (VERDICT r14 item 2): fill the space the compact form leaves
    # under the driver's capture cap with per-query seconds, most
    # expensive first, so PERF can compute its per-query table from
    # the parsed line itself.
    slim = _insert_queries_budgeted(
        slim,
        out.get("queries"),
        (out.get("streaming") or {}).get("queries"),
    )
    return json.dumps(slim)


def _latest_bench_file(repo_dir: str) -> str | None:
    import re

    best: tuple[int, str] | None = None
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if m:
            n = int(m.group(1))
            if best is None or n > best[0]:
                best = (n, os.path.join(repo_dir, fn))
    return best[1] if best else None


# -- fresh-session streaming drains (VERDICT r13 items 1-2) -------------------
#
# r14 attribution of the r13 "confirmed" streaming regressions
# (sessionize 1.99x, distinct_daily 1.72x on UNTOUCHED code): a
# fresh-session worktree A/B at the r12 boundary (git worktree
# /tmp/r12 @ ee17a8c, min-of-3 drains x3 alternating sessions per
# tree) timed r13 HEAD equal-or-FASTER on every drain (sessionize
# 3.91/4.19/4.42 s vs r12's 5.02/6.07/7.57; distinct_daily ~2.6 vs
# ~3.0; stream_stream_join ~9.1 vs ~9.8-14.1) — and fresh-session
# HEAD sessionize (~4.1 s) lands exactly on the r12-recorded in-bench
# 4.09 s. The creep was SESSION POSITION: drains ran last, after a
# batch workload that grows every round, and the in-session
# "isolated" rerun could not see that bloat. Fix: the streaming
# section now runs in a fresh-session SUBPROCESS (this worker), so a
# growing batch section can never masquerade as drain slowdown again.

_DRAIN_WORKER_TIMEOUT_SEC = 3600


def drain_worker_main(ops_csv: str, out_path: str) -> None:
    """``python bench.py --drain-worker <ops_csv> <out_json>``: time
    the named streaming drains on a FRESH SparkSession and write the
    per-op min-of-3(+extra short reps) timings as JSON. Reads
    SPARK_GRAFT_WAREHOUSE_CACHE (an operators.warehouse.export_cache
    snapshot) so table-backed gates reuse the parent's materialized
    result tables instead of re-paying the job-layer builds."""
    import statistics

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ops = [o for o in ops_csv.split(",") if o]

    from pyspark.sql import functions as F

    from dungbeetle_spark.queries import registry
    from dungbeetle_spark.session import get_spark
    from dungbeetle_spark.sources.catalog import TABLES, load_tables

    spark = get_spark("dungbeetle-bench-drain")
    specs = registry()
    cache = os.environ.get("SPARK_GRAFT_WAREHOUSE_CACHE")
    if cache and os.path.exists(cache):
        from dungbeetle_spark.operators import warehouse

        warehouse.preload_cache(cache)
    # same warmups as the batch section: table page cache / parquet
    # footers + the Python worker pool, so the first timed drain
    # doesn't pay cold forks (the worker IS the fresh session; the
    # warmups keep "fresh" meaning "no prior workload", not "cold VM")
    tables = load_tables(spark, sf_dir, TABLES)
    for df in tables.values():
        df.write.mode("overwrite").format("noop").save()
    _warm = F.pandas_udf(lambda s: s, "long")
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 100, 1, cores).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()
    # table-backed gates: ensure their reference tables exist BEFORE
    # the timed loop (a preloaded cache makes this free; without one —
    # e.g. a standalone worker invocation — the build is untimed here)
    need = _mat_tables_for(ops)
    if need:
        _materialize_tables(spark, sf_dir, need)

    s_runs: dict[str, list[float]] = {name: [] for name in ops}
    for _ in range(3):
        for name in ops:
            t0 = time.perf_counter()
            specs[name].build(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            s_runs[name].append(time.perf_counter() - t0)
    short = [
        n for n in ops if min(s_runs[n]) < _STREAM_EXTRA_REP_UNDER_SEC
    ]
    for _ in range(_STREAM_EXTRA_REPS):
        for name in short:
            t0 = time.perf_counter()
            specs[name].build(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            s_runs[name].append(time.perf_counter() - t0)
    payload = {
        "queries": {name: round(min(ts), 3) for name, ts in s_runs.items()},
        "spread_stddev": {
            name: round(statistics.pstdev(ts), 3)
            for name, ts in s_runs.items()
        },
    }
    with open(out_path, "w") as f:
        json.dump(payload, f)


def _fresh_session_drains(ops: list[str]) -> dict:
    """Spawn the drain worker for ``ops``; returns its payload. The
    parent's warehouse cache is handed over as a snapshot file so the
    worker's table-backed gates read the already-built tables."""
    import subprocess
    import tempfile

    out_fd, out_path = tempfile.mkstemp(prefix="drain_", suffix=".json")
    os.close(out_fd)
    cache_fd, cache_path = tempfile.mkstemp(
        prefix="warehouse_cache_", suffix=".json"
    )
    os.close(cache_fd)
    env = dict(os.environ)
    try:
        from dungbeetle_spark.operators import warehouse

        warehouse.export_cache(cache_path)
        env["SPARK_GRAFT_WAREHOUSE_CACHE"] = cache_path
        res = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--drain-worker",
                ",".join(ops),
                out_path,
            ],
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
            timeout=_DRAIN_WORKER_TIMEOUT_SEC,
        )
        if res.returncode != 0:
            tail = (res.stderr or b"")[-2000:].decode("utf-8", "replace")
            raise RuntimeError(f"drain worker exited {res.returncode}: {tail}")
        with open(out_path) as f:
            return json.load(f)
    finally:
        for p in (out_path, cache_path):
            try:
                os.unlink(p)
            except OSError:
                pass


def _streaming_vs_oldest(
    timings: dict[str, float], host_factor: float | None, repo_dir: str
) -> dict[str, dict] | None:
    """Cumulative cross-round anchor (VERDICT r13 item 2b): for each
    drain, the normalized ratio against the OLDEST archived full
    record that carries it — so sub-threshold adjacent-round creep
    (sessionize 2.86→7.60 s across r10→r13, every step under the 1.5x
    flag) can never hide again. Each entry records the anchor round
    and that record's session mode ('inline' = drains timed after the
    whole batch section — position-inflated; 'fresh' = subprocess
    session), because a fresh-vs-inline ratio mixes measurement
    positions and reads LOW by construction."""
    import re

    if not host_factor:
        return None
    rounds: list[tuple[int, str]] = []
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_FULL_r(\d+)\.json", fn)
        if m:
            rounds.append((int(m.group(1)), os.path.join(repo_dir, fn)))
    out: dict[str, dict] = {}
    for rnd, path in sorted(rounds):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        old_stream = (rec.get("streaming") or {}).get("queries") or {}
        if not old_stream:
            continue
        old_factor = _median_host_factor(rec.get("queries") or {})
        if not old_factor:
            continue
        old_mode = (rec.get("streaming") or {}).get("session_mode", "inline")
        for name, new_sec in timings.items():
            old_sec = old_stream.get(name)
            if old_sec and name not in out:
                ent = {
                    "ratio": round(
                        (new_sec / host_factor) / (old_sec / old_factor), 3
                    ),
                    "round": rnd,
                    "old_mode": old_mode,
                }
                # a cumulative ratio over the flag threshold that has a
                # reviewed cause (e.g. the r12 composed fuzzy stage in
                # the fate gate) ships self-annotated, like the
                # adjacent-round known_regressions discipline
                if ent["ratio"] > _REGRESSION_RATIO and name in _KNOWN_REGRESSIONS:
                    ent["known"] = True
                out[name] = ent
    return out or None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    # Iteration aid: SPARK_GRAFT_BENCH_QUERIES="q1_pricing_summary,q3_..."
    # times only that comma-separated subset (full headline when unset —
    # the driver never sets it).
    headline = HEADLINE
    streaming_ops = STREAMING
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    if subset:
        chosen = [q.strip() for q in subset.split(",") if q.strip()]
        unknown = [q for q in chosen if q not in HEADLINE + STREAMING]
        if unknown:
            raise SystemExit(f"not in HEADLINE or STREAMING: {unknown}")
        headline = [q for q in chosen if q in HEADLINE]
        streaming_ops = [q for q in chosen if q in STREAMING]
    # ADVICE r10: the 11 streaming drains (3x each, with sink +
    # checkpoint I/O) materially lengthen a batch-only iteration loop;
    # SPARK_GRAFT_BENCH_STREAMING=0 skips them while keeping the FULL
    # batch headline (the subset env above can't express that without
    # enumerating every batch query). The driver never sets it, so
    # driver-recorded rounds always carry the streaming section.
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") == "0":
        streaming_ops = []

    from dungbeetle_spark.queries import registry
    from dungbeetle_spark.session import get_spark

    spark = get_spark("dungbeetle-bench")
    specs = registry()

    # Warmup: touch every table once so OS page cache / parquet footer
    # parsing doesn't land on the first timed query, and run one tiny
    # Pandas UDF so the Python worker pool (fork + numpy/pandas import
    # per core) spins up before any timed UDF query.
    from pyspark.sql import functions as F

    from dungbeetle_spark.sources.catalog import TABLES, load_tables

    tables = load_tables(spark, sf_dir, TABLES)
    for df in tables.values():
        df.write.mode("overwrite").format("noop").save()

    # r13: materialize the warehouse result tables (fate manifest,
    # export manifest, gate reference state) through the job layer
    # BEFORE any timed pass, so the *_from_manifest / *_from_tables
    # entries measure the table-READ path their docstrings claim. The
    # one-time build cost is real and reported — as its own scalar,
    # not smeared into whichever query happened to run first (the
    # static-build-vs-per-batch split VERDICT r12 item 2 asks the
    # bench to make visible).
    # spark.range gives every core a non-empty partition, so all 32
    # workers fork+import now — a tiny table (e.g. region, 5 rows)
    # would warm only 5 and leave the first timed UDF query paying ~27
    # simultaneous cold forks. r14 opt: this warmup moved AHEAD of the
    # warehouse materialization — the builders' jobs contain
    # Arrow-batched Python stages (the shingle UDF), so running them
    # against a cold worker pool charged ~27 simultaneous forks to
    # materialization_setup_sec, overstating the one-time build cost
    # the scalar exists to isolate.
    _warm = F.pandas_udf(lambda s: s, "long")
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 100, 1, cores).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    mat_setup_sec = None
    mat_need = _mat_tables_for(headline + streaming_ops)
    if mat_need:
        t0 = time.perf_counter()
        _materialize_tables(spark, sf_dir, mat_need)
        mat_setup_sec = round(time.perf_counter() - t0, 3)

    # Three interleaved passes over the whole list, per-query min:
    # steady-state performance (codegen JIT, shuffle warmup) is what a
    # long-running job server delivers, and the host shows transient
    # multi-second CPU stalls that can span back-to-back runs of one
    # query — round-robin passes decorrelate a stall window from any
    # single query's every sample.
    runs: dict[str, list[float]] = {name: [] for name in headline}
    for _ in range(3):
        for name in headline:
            t0 = time.perf_counter()
            specs[name].build(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs[name].append(time.perf_counter() - t0)
    timings = {name: round(min(ts), 3) for name, ts in runs.items()}
    # Repeat-run spread (population stddev of the 3 interleaved
    # samples): the per-round record of which queries sit in scheduler
    # noise — recorded once in BENCH_FULL (VERDICT r08 item 7).
    import statistics

    spread = {
        name: round(statistics.pstdev(ts), 3) for name, ts in runs.items()
    }

    total = round(sum(timings.values()), 3)
    host_factor = _median_host_factor(timings)

    # Text-class canary (VERDICT r11 item 6): two FROZEN queries
    # anchor the mid-weight text class the scan/agg factor has twice
    # misrepresented. Timed with the same 3-pass min, recorded in the
    # canary block (never in the headline totals), and used by the
    # guard for _TEXT_CLASS queries when both rounds carry them.
    from dungbeetle_spark.bench_canary import TEXT_CANARIES

    c_runs: dict[str, list[float]] = {name: [] for name in TEXT_CANARIES}
    for _ in range(3):
        for name, fn in TEXT_CANARIES.items():
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            c_runs[name].append(time.perf_counter() - t0)
    text_anchors = {name: round(min(ts), 3) for name, ts in c_runs.items()}
    text_factor = _median_host_factor(text_anchors, CANARY_TEXT_ANCHORS)

    # Cross-round regression detection (VERDICT r05 item 4): compare
    # against --compare PATH if given, else auto-detect the newest
    # BENCH_r*.json in the repo; --no-compare disables.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    for name_ in archive_full_records(repo_dir):
        print(f"archived full bench record: {name_}", file=sys.stderr)
    against: str | None = None
    if "--compare" in sys.argv:
        idx = sys.argv.index("--compare")
        if idx + 1 >= len(sys.argv):
            raise SystemExit("--compare requires a path argument")
        against = sys.argv[idx + 1]
        if not os.path.exists(against):
            # An explicitly requested compare file that's absent must
            # not silently look like a clean no-compare run (ADVICE r06).
            raise SystemExit(f"--compare file not found: {against}")
    elif "--no-compare" not in sys.argv:
        against = _latest_bench_file(repo_dir)
    compare = None
    if against and os.path.exists(against):
        try:
            compare = _compare_block(timings, host_factor, against,
                                     text_factor)
        except Exception as ex:  # a bad prior file must never cost the run
            compare = {"against": os.path.basename(against),
                       "error": str(ex)[:200]}

    def _isolated_min(name: str) -> float:
        iso: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            specs[name].build(spark, sf_dir).write.mode(
                "overwrite"
            ).format("noop").save()
            iso.append(time.perf_counter() - t0)
        return round(min(iso), 3)

    if compare and compare.get("regressions"):
        confirm_regressions(compare, timings, _isolated_min)
        cross_round_context(
            compare, timings, host_factor, against, text_factor
        )

    # Streaming drain section (VERDICT r09 item 5): each op's build()
    # runs a synchronous availableNow drain to parquet; the noop save
    # of the returned batch frame adds only the drained-result read.
    # Since r14 the drains run in a FRESH-SESSION SUBPROCESS (VERDICT
    # r13 items 1-2: the r13 "confirmed" regressions were session
    # position — see the attribution note above drain_worker_main), so
    # the growing batch section can never masquerade as drain
    # slowdown. In-session fallback only if the worker fails, marked
    # as such so the compare knows the measurement position.
    streaming: dict | None = None
    if streaming_ops:
        session_mode = "fresh"
        try:
            s_payload = _fresh_session_drains(streaming_ops)
        except Exception as ex:
            print(f"drain worker failed, falling back in-session: {ex}",
                  file=sys.stderr)
            session_mode = "inline_fallback"
            s_runs: dict[str, list[float]] = {n: [] for n in streaming_ops}
            reps = 3 + _STREAM_EXTRA_REPS
            for i in range(reps):
                for name in streaming_ops:
                    if i >= 3 and min(s_runs[name]) >= \
                            _STREAM_EXTRA_REP_UNDER_SEC:
                        continue
                    t0 = time.perf_counter()
                    specs[name].build(spark, sf_dir).write.mode(
                        "overwrite"
                    ).format("noop").save()
                    s_runs[name].append(time.perf_counter() - t0)
            s_payload = {
                "queries": {n: round(min(ts), 3) for n, ts in s_runs.items()},
                "spread_stddev": {
                    n: round(statistics.pstdev(ts), 3)
                    for n, ts in s_runs.items()
                },
            }
        s_timings = s_payload["queries"]
        streaming = {
            "metric": "streaming_drain_wall",
            "queries": s_timings,
            "total": round(sum(s_timings.values()), 3),
            "spread_stddev": s_payload.get("spread_stddev"),
            "session_mode": session_mode,
        }
        vs_oldest = _streaming_vs_oldest(s_timings, host_factor, repo_dir)
        if vs_oldest:
            streaming["vs_oldest"] = vs_oldest
        if against and os.path.exists(against):
            try:
                s_cmp = _streaming_compare(
                    s_timings, host_factor, against, session_mode
                )
            except Exception as ex:
                s_cmp = {"against": os.path.basename(against),
                         "error": str(ex)[:200]}
            if s_cmp is not None:
                if s_cmp.get("regressions"):
                    # a streaming flag is re-confirmed the way it was
                    # measured: a fresh subprocess session per flagged
                    # op (in-session _isolated_min would reintroduce
                    # the position bias this section just removed)
                    def _isolated_min_streaming(name: str) -> float:
                        if session_mode != "fresh":
                            return _isolated_min(name)
                        try:
                            return _fresh_session_drains([name])["queries"][
                                name
                            ]
                        except Exception:
                            return _isolated_min(name)

                    confirm_regressions(
                        s_cmp, s_timings, _isolated_min_streaming
                    )
                streaming["compare"] = s_cmp

    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary": {
            "queries": {
                name: {
                    "sec": timings.get(name),
                    "anchor_sec": anchor,
                    "r01_sec": CANARY_R01[name],
                }
                for name, anchor in CANARY_ANCHORS.items()
            },
            "host_factor": host_factor,
            "basis": "r07",
            "note": "median ratio over r01-untouched anchors, r07-"
                    "measured basis (re-anchored r08); advisory. "
                    "ONE-TIME STEP r15: load_tables memoization "
                    "removed a fixed ~30-80 ms table-open job from "
                    "every build INCLUDING the anchors, so r15-vs-"
                    "older host factors read low and normalized "
                    "ratios correspondingly high — the anchors' drop "
                    "is partly real code speedup, not host speed "
                    "(disclosed in OPTIMIZATION_r15.md; raw totals "
                    "and same-window per-change A/Bs are the "
                    "unbiased evidence this round).",
            "text_anchors": text_anchors,
            "host_factor_text": text_factor,
            "text_note": "frozen mid-weight text-class canaries "
                         "(bench_canary.py), r12-derived r07 basis; "
                         "_TEXT_CLASS queries normalize by this factor "
                         "when both compared rounds carry it",
        },
        "normalized_total": (
            round(total / host_factor, 3) if host_factor else None
        ),
        "query_spread_stddev": spread,
    }
    if mat_setup_sec is not None:
        # the one-time warehouse build (fate manifest + export manifest
        # + gate reference tables through the job layer) — the
        # static-state term the *_from_manifest / *_from_tables
        # timings deliberately exclude
        out["materialization_setup_sec"] = mat_setup_sec
    if compare is not None:
        out["compare"] = compare
    if streaming is not None:
        out["streaming"] = streaming

    # Full record (per-query compare ratios, canary anchor detail) goes
    # to a file — the driver's stdout capture is bounded (~4 KB: the
    # r06 run's single 4.3 KB line was cut mid-line, BENCH_r06.json
    # "parsed": null), so stdout gets exactly one slim line kept under
    # that cap by emit_bench_line's progressive size guard. A
    # SPARK_GRAFT_BENCH_QUERIES subset run writes a sidecar instead:
    # clobbering the only full record of the last complete run with a
    # 3-query iteration file broke the r08 cross-round compare once.
    # A streaming-skipped run is also partial: letting it clobber
    # BENCH_FULL.json would strip the streaming section the next
    # cross-round streaming compare reads.
    partial = bool(subset) or not streaming_ops
    full_name = "BENCH_FULL_SUBSET.json" if partial else "BENCH_FULL.json"
    try:
        with open(os.path.join(repo_dir, full_name), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError as ex:
        print(f"warning: could not write BENCH_FULL.json: {ex}",
              file=sys.stderr)
    print(emit_bench_line(out, full_name))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--drain-worker":
        drain_worker_main(sys.argv[2], sys.argv[3])
    else:
        main()

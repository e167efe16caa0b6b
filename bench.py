"""Per-query wall-time benchmark (driver contract + SURVEY §2 A14).

Mirrors the reference's per-stage ingest timers
(/root/reference/src/bin/bench-kafka.rs:42-173 — Instant::now around
init / consume / convert / write / commit) as per-query timers over the
headline operator set, at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1).

Prints EXACTLY ONE JSON line to stdout:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Execution is forced with the noop sink (distributed full materialization,
no driver-side collect — the measured time is plan execution, not Arrow
transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

# Headline set: flagship agg, large-large join, star join, as-of join,
# ranking window, top-k sort, JSON decode, plus the LLM north-star ops
# (skipped gracefully while not yet registered).
HEADLINE = [
    "b21_pricing_summary",
    "b13_inner_join",
    "b20_star_join",
    "b19_asof_join",
    "b31_window_ranking",
    "b35_global_sort_limit",
    "b03_json_lines_decode",
    "c01_exact_dedup",
    "c02_minhash_lsh_dedup",
    "c03_cosine_topk",
    "c05_text_analysis",
    "c16_training_pipeline",
    "c20_corpus_build",
    # heavy dedup/ANN ops — the operators most likely to regress (each
    # moved >2x during round-2 plan work), per the round-2 audit
    "c08_simhash",
    "c09_ngram_jaccard",
    "c10_embedding_near_dup",
    # round-3 pipeline ops with real shuffle work
    "p03_chunk_dedup",
    "p07_boilerplate_strip",
    # round-4 corpus ops: decontamination join, chunking map, shuffle window
    "c26_fuzzy_decontaminate",
    "p09_chunk_windows",
    "p10_corpus_shuffle",
    # round-5 ops with real work: 32-permutation minhash + postings
    # join (the accuracy report), 16 fold-projections + band agg
    "c31_minhash_estimate",
    "c29_hyperplane_lsh",
    # round-5b corpus ops: bigram explode + group-limit window, and
    # the fingerprint-cluster canonical window
    "c32_bpe_pair_stats",
    "c33_canonical_selection",
    # lakehouse layout paths: bucketed co-located join + stats skipping
    "b60_bucketed_join",
    "b61_data_skipping",
    # round-6: the TPC-H optimizer workouts (6- and 8-relation joins —
    # the raw-SQL surface a reference user actually runs) and the
    # replication fan-out of temperature resampling
    "b97_tpch_q5",
    "b107_tpch_q8",
    "c35_temperature_mix",
    # round-7: the incremental near-dedup loop (signature pipeline +
    # digest join over a lake-table delta; index maintenance via
    # MERGE) and the full IVF + ADC + exact-re-rank composition
    # (c40 subsumes c38's encode/shortlist/re-rank path and adds the
    # cell prune). p18 (the streaming novelty drain) is graded for
    # correctness but not benched: its 4-micro-batch drain pays the
    # per-epoch plan-compile floor 4x (~7 s at demo scale, pure
    # fixed overhead that real batch sizes amortize), which would
    # swamp the cell with no plan signal — b68/b54 keep streaming
    # represented in the headline.
    "p17_incremental_lsh_dedup",
    "c39_signature_index_merge",
    "c40_ivf_adc_rerank",
    # round-8 entrants (VERDICT r7 item 7): the composed
    # LSH-dedup→split→decontaminate release pipeline; the
    # metadata-only retention delete (cell dominated by the
    # partitioned demo-warehouse build on first run — the delete
    # itself is a manifest rewrite); and substring-level dedup, whose
    # digest pipeline is real shuffle work (~|tokens| position rows)
    "p20_corpus_build_v2",
    "b135_retention_delete",
    "c43_substring_dedup",
    # late-round-8: the ExactSubstr rewrite (c43's report executed —
    # interval join + per-row JVM strip on top of the digest lineage)
    "p24_substring_strip",
    # streaming ingest path — the reference's own benchmark subject
    # (bench-kafka.rs stage timers): stream → decode → files → commit
    "b68_tumbling_window",
    "b54_stream_lakehouse_sink",
    # the streaming novelty filter, timed as a pure drain at the
    # amortized batch size (see SPLIT_BUILD + _cell)
    "p18_streaming_novelty_filter",
    # round-9 entrants: the tokenizer-apply hot path (pure-map JVM
    # expression over every document — the per-row CPU ceiling of the
    # corpus pipeline) and the extent-partitioned layout audit (one
    # windowed pass over lineitem, 4 columns of change flags + three
    # aggregation levels)
    "c51_tokenizer_apply",
    "b145_dict_layout_audit",
    # late-round-9: the two-phase Bloom decontamination (broadcast
    # bitmap prefilter + exact confirm join on the flagged fraction)
    # and TPC-H Q21, the suite's notorious double-correlated
    # self-join (semi + anti decorrelation over three lineitem arms)
    "c52_bloom_decontaminate",
    "b149_tpch_q21",
    # round-9b: the iterative-algorithm representative — 3 Lloyd
    # passes = 3 corpus scans + 2 bounded centroid collects; the cell
    # times the whole driver loop, the shape MLlib kmeans pays
    "c54_kmeans_lloyd",
    # round-10 entrants (VERDICT r9 item 3: the heaviest unbenched
    # round-9 plans): the df-capped postings self-join of containment
    # detection, the 2-scan DSIR scorer + Gumbel top-k, the
    # grid-pruned skyline, and the completed-grid source-KL pair join
    "c62_containment_detect",
    "c53_dsir_resample",
    "b156_skyline",
    "c59_source_kl_divergence",
    # round-10 additions: the BPE trainer's 6-superstep driver loop
    # (12 bounded jobs over the checkpointed word table) and the
    # fingerprint-window split with its leak-audit regroup
    "c63_bpe_merge_learn",
    "p32_leakage_safe_split",
    # round-10 tail entrants with real plan work: the bigram-LM
    # score join (2 scans + broadcast model), the 10-anchor triplet
    # sweep over all vectors, the composed quality-gated release
    # pipeline, the 3-epoch perceptron driver loop, and the PMI
    # model joins
    "c65_bigram_perplexity",
    "c67_triplet_mining",
    "p34_release_report_v3",
    "c68_perceptron_train",
    "c69_pmi_collocations",
    # round-11 entrant: the k-means++ index build — 7 D²-draw
    # supersteps, each a full corpus scan + 1-row argmax collect (the
    # train-step driver loop, c54/c63's shape applied to ANN). p36
    # (streaming release) is graded for correctness but not benched,
    # same rationale as p18: its availableNow drain pays the
    # per-epoch plan-compile floor 4x plus per-epoch state-index
    # parquet round-trips — pure fixed overhead at demo scale that
    # real batch sizes amortize, no plan signal.
    "c70_kmeanspp_seed",
    # round-11 tail entrants with real plan work: the drift audit's
    # 130-aggregate cell pass and the recall eval's probe sweep (which
    # re-runs the c70 train loop before its |probes|·N candidate
    # pass). b159/b160/p37 are graded but unbenched: metadata-table
    # listings and a cell-table explode, all sub-2 s fixed cost with
    # no plan signal at any corpus size.
    "c71_ivf_index_drift",
    "c72_learned_ivf_recall",
    # round-12 entrants: the remaining cheap-but-graded r11 artifacts
    # (c73 calibration histogram, p39 datacard rollup — VERDICT r11
    # item 5: anchor or waive; both are single-aggregate cells), the
    # PQ train loop (2 Lloyd supersteps + ADC re-rank — the heaviest
    # round-12 plan), and the unigram-LM EM trainer (2 Viterbi-fold
    # E-steps over the word table). b161 is graded but unbenched:
    # metadata-table listing, sub-2 s fixed cost with no plan signal
    # (the b159/b160 rationale).
    "c73_classifier_calibration",
    "p39_release_datacard",
    "c74_pq_train",
    "c75_unigram_lm_train",
    # late-round-12 entrants with real plan work: the DoReMi MWU
    # learner (2 corpus passes + broadcast NLL grid), the unigram
    # apply (per-occurrence Viterbi folds — the per-row CPU ceiling,
    # c51's counterpart for the EM family), and the fully-trained
    # IVFADC (c70 train + residual-PQ train + probe/ADC/re-rank —
    # the ANN arc's flagship composition). b161/b162 are graded but
    # unbenched (metadata-table listings, the b159/b160 rationale);
    # p41 likewise (cell-table explode, p37's rationale).
    "p40_mixture_weight_learn",
    "c76_unigram_apply_fertility",
    "c77_trained_ivfadc",
    # round-12b entrants with real plan work: the PCA Gram scan
    # (Arrow-batched mapInPandas partials — the repo's one
    # statistics-kernel cell), its deployed 1-D prefilter recall
    # audit (re-runs the Gram scan + projection + two top-k arms),
    # the perceptual-hash near-dup (mapInPandas signature kernel +
    # banded Σ|bucket|² self-join over 4 bands), and the dedup-aware
    # epoch plan (c49's 8-superstep pointer-jumping fixpoint + the
    # budget tail — the heaviest composition in the set). b164 is
    # graded but unbenched: metadata-table listing answered from
    # snapshot JSON headers, sub-2 s fixed cost with no plan signal
    # (the b159/b160/b161 rationale).
    "c79_pca_power_iteration",
    "c81_pca_prefilter_recall",
    "c80_phash_near_dup",
    "p43_dedup_aware_epochs",
    # session-3 round-12 entrants: the LSH S-curve audit (one c09
    # Σdf² postings join + one banded candidate join — two deployed
    # heavy plans composed) and Kneser-Ney scoring (corpus bigram
    # aggregate + broadcast model join, c65's shape with the KN
    # window statistics on model rows). c82/p44/p45/b165 are graded
    # but unbenched — written waivers in BASELINE.md.
    "c83_lsh_scurve_audit",
    "c84_kneser_ney_bigram",
    # round-13 entrant: the graph-ANN flagship — blocked Σ|block|²
    # kNN-graph build + H-hop beam search, the round's heaviest new
    # plan. b168/b169 are graded but unbenched (maintenance verbs:
    # metadata walks + KB delete-file I/O inside cached builds — the
    # b159-b167 rationale); c90 likewise (a 532-row integer map);
    # c92 re-runs c91's build + c04's benched brute shape; c93's
    # MERGE maintenance is c39's benched shape with c38's broadcast
    # assignment; c94 is two TakeOrdered lists + a 10-doc pair scorer
    # (c78's waiver rationale) — written waivers in BASELINE.md.
    "c91_knn_graph_search",
    # round-14 entrant: the graph arm's maintenance verb — the one
    # Σ|A|·|B| blocked arrival pair job ranked in both directions +
    # two |edges| windows. c97 is graded but unbenched (its plan is
    # c91's build + search, which the c91 anchor already reads, plus
    # one pushdown-pinned scan); c95/c92 carry their round-13
    # waivers — written waivers in BASELINE.md.
    "c96_graph_index_ingest",
]

# Cells whose first call is dominated by demo-WAREHOUSE construction
# (bucketed saveAsTable / staged parallel appends), not by the query
# under test (VERDICT r8 item 5: b61's cell flirted with the 2x bar on
# tmpdir I/O variance alone). The build is timed ONCE as its own
# "<name>_demo_build" cell, then the query cell proper times a second
# invocation that hits the (session, sf) build cache — so the 2x
# regression bar tests the scan/join plan, not tmpfs throughput.
SPLIT_BUILD = [
    "b60_bucketed_join",
    "b61_data_skipping",
    # p17's build is ONLY table construction (two appends); the
    # incremental signature probe — the operator under test — runs
    # entirely outside it, so the split times exactly the query.
    # (c39 stays unsplit: its graded operation — the MERGE — happens
    # INSIDE the build closure and mutates the index.)
    "p17_incremental_lsh_dedup",
    # b135 split as of round 13: the r12 driver run read it at 2.78x
    # anchor and the clean-pair re-read REPRODUCED ~3.7-4.0 s with
    # quiet probes — instrumentation showed the cost is the
    # hive-partitioned demo-warehouse APPEND (2.8 s of 30-partition
    # tmpfs writes); delete_range itself is 0.00 s (metadata-only,
    # exactly as designed) and the surviving read-agg is ~0.55 s. The
    # split times the build as its own ‡ cell and the query cell —
    # the retention read over the carved snapshot — against the build
    # cache, which also frees b135 from the NO_RETRY stall trap (the
    # r12 weak mark's root cause: the one cell that couldn't retry
    # was the one that read high).
    "b135_retention_delete",
    # p18's inputs (arrival files + base signature index) build once;
    # the timed cell is then the pure streaming drain (VERDICT r8
    # item 7: publish a p18 throughput number at the amortized batch
    # size — one 4-file epoch — alongside its correctness grade)
    "p18_streaming_novelty_filter",
]


# --- Measurement protocol (unit-tested in tests/test_bench_protocol.py) ---

# Repeat-median (BASELINE.md r8): cells whose first run lands <=
# MEDIAN_CUTOFF seconds are JVM-warmup-noise-dominated — rerun twice
# and record the 3-run median, so the 2x regression bar stays
# meaningful on sub-second cells (r7's b35/c03/b31 drift was pure
# noise; all three land under this cutoff).
MEDIAN_CUTOFF = 1.0

# Stall-retry (BASELINE.md r9 host shift): the round-9 late host
# exhibits random multi-second stalls that land on arbitrary cells
# (same commit, back-to-back pair: b145 32.0 s then 2.9 s; c09 13.1 s
# then 31.9 s; c52 37.7 s then 3.2 s — the stalled cell CHANGES
# between runs, and a GC-logged probe showed zero >100 ms pauses while
# the same cell read 3.8/11.7/1.8 s on three consecutive in-session
# runs, so it is host scheduling, not plan work or JVM state). Any
# cell whose first run exceeds STALL_RETRY seconds is rerun (up to 2
# more times) and the MIN recorded; two CONSISTENT readings (within
# 30%) stop the retries early — a genuine plan regression reproduces
# and still reads high, while a stall does not survive. Streaming
# cells rerun with fresh mkdtemp checkpoints (full re-drain), so the
# min is honest work there too. Known limitation: two same-magnitude
# stalls in a row read as "consistent" and stand — the cross-run
# minimum rule in BASELINE.md covers that case.
STALL_RETRY = 2.5

# Cells whose graded operation runs INSIDE a (session, sf)-cached
# build closure (the same reasoning that keeps them out of
# SPLIT_BUILD): a rerun would time a cache-hit read, not the MERGE
# under test, so their first reading stands even through a stall.
# (b135 left this set in round 13: its delete is 0.00 s metadata
# work, so the cell is SPLIT_BUILD instead — see above.)
NO_RETRY = {"c39_signature_index_merge"}

# --- Whole-run degraded-phase guard (VERDICT r10 item 3) ---
#
# Round 10's driver bench landed inside one of this host's documented
# multi-minute degraded phases: six cells read 2.2-3.0x their anchors
# with QUIET probes and zero code changes behind them, and the
# per-cell stall-retry could not save them (two same-magnitude stalls
# read as consistent; c39 is NO_RETRY). The guard catches that shape
# at RUN level: if >= GUARD_MIN_CELLS anchored cells exceed
# GUARD_FACTOR x their same-host anchor while both host probes read
# quiet (< PROBE_QUIET — i.e. the degradation is the stealth kind the
# probes cannot see), the whole sweep reruns ONCE and the run with
# the smaller headline total is recorded. Both totals and the
# triggering cells go in the JSON either way (the first sweep's
# trigger list survives a kept rerun as guard.trigger_cells).
# The rerun REUSES the first sweep's readings for NO_RETRY cells and
# for the *_demo_build construction cells: both run inside
# (session, sf)-cached builds, so re-executing them times a cache
# hit — which would both corrupt their recorded readings and bias
# the totals comparison toward the rerun for free.
#
# Anchor values: BASELINE.md "r10 anchor (new host)" column — run 4
# of the probe-verified clean pair at round-10 HEAD. Query cells only
# (demo-build cells are tmpfs-I/O-variance-prone and excluded, same
# as their exclusion from the headline total).
ANCHOR_SECONDS = {
    "b21_pricing_summary": 1.46,
    "b13_inner_join": 1.84,
    "b20_star_join": 2.26,
    "b19_asof_join": 0.49,
    "b31_window_ranking": 0.38,
    "b35_global_sort_limit": 0.20,
    "b03_json_lines_decode": 0.44,
    "c01_exact_dedup": 0.29,
    "c02_minhash_lsh_dedup": 2.14,
    "c03_cosine_topk": 0.50,
    "c05_text_analysis": 0.57,
    # re-cut round 17 (plan change: fingerprint map repartitioned off
    # the one-split scan; close pair 0.69/0.58, mid sweep 0.73 —
    # max-of-minimums)
    "c16_training_pipeline": 0.73,
    "c20_corpus_build": 1.44,
    "c08_simhash": 1.95,
    "c09_ngram_jaccard": 2.03,
    "c10_embedding_near_dup": 1.69,
    "p03_chunk_dedup": 0.59,
    "p07_boilerplate_strip": 0.84,
    "c26_fuzzy_decontaminate": 2.27,
    "p09_chunk_windows": 0.26,
    "p10_corpus_shuffle": 0.28,
    "c31_minhash_estimate": 2.66,
    # re-cut round 16 batch 4 (construction change: the 16 sign bits
    # + band structs render as one parsed expression; close pair
    # 0.708/0.713)
    "c29_hyperplane_lsh": 0.71,
    # re-cut round 17 (bigram construct repartitioned; 1.04/0.69 pair,
    # 1.18 mid — max-of-minimums)
    "c32_bpe_pair_stats": 1.18,
    # re-cut round 17 (fingerprint map repartitioned; 1.44/1.09 pair,
    # 1.44 mid)
    "c33_canonical_selection": 1.44,
    "b60_bucketed_join": 0.24,
    "b61_data_skipping": 0.18,
    "b68_tumbling_window": 2.20,
    "b54_stream_lakehouse_sink": 1.44,
    "b97_tpch_q5": 1.88,
    "b107_tpch_q8": 1.35,
    "c35_temperature_mix": 0.71,
    # re-cut round 16 batch 4 (construction change: _band_sigs'
    # 16 permutations + 4 band structs one-parse; pair 1.111/1.686)
    "p17_incremental_lsh_dedup": 1.11,
    "c39_signature_index_merge": 3.64,
    "c40_ivf_adc_rerank": 1.91,
    "p20_corpus_build_v2": 2.14,
    # b135 re-anchored round 13 after the SPLIT_BUILD move (see the
    # SPLIT_BUILD comment): first clean pair 0.142/0.132; the close
    # pair (slower host phase) read 0.211/0.269 — anchored at the
    # cross-pair maximum-of-minimums so a sub-0.3 s noise cell is not
    # a standing 2x false trigger (the b19/c51 noise-cell family).
    "b135_retention_delete": 0.21,
    "c43_substring_dedup": 2.30,
    "p24_substring_strip": 2.12,
    "c51_tokenizer_apply": 0.54,
    "b145_dict_layout_audit": 2.23,
    "c52_bloom_decontaminate": 1.23,
    "b149_tpch_q21": 2.04,
    # re-cut round 16 batch 4 (_band_sigs one-parse; pair 1.435/1.545)
    "p18_streaming_novelty_filter": 1.44,
    # re-cut round 16 (construction change: one-parse literal assign
    # matrix — OPTIMIZATION_r16.md batch 2; close pair 4.112/2.424)
    # re-cut again round 17 late (train-loop input cache on the
    # repartitioned frame; final pair 2.49/1.88)
    "c54_kmeans_lloyd": 1.88,
    # re-cut round 16 (plan change: shingle digests checkpointed once
    # instead of 3x lineage re-eval; close pair 3.110/3.149)
    "c62_containment_detect": 3.11,
    "c53_dsir_resample": 1.75,
    "b156_skyline": 0.61,
    # re-cut round 14 (plan change: smoothed-ratio lns now one
    # integer-ln kernel fold on the |S|x256 model table), then round
    # 16 (the kernel's 63 chained squaring projections collapsed into
    # one aggregate fold — batch 1; close pair 2.273/1.891)
    "c59_source_kl_divergence": 1.89,
    "c63_bpe_merge_learn": 2.34,
    "p32_leakage_safe_split": 0.42,
    # c65/c84 re-anchored at round-13 close: their NLL now evaluates
    # through the integer-ln kernel (~90 extra integer projection
    # steps over MODEL rows — a fixed ~1.3-1.7 s Catalyst-analysis
    # cost, data-size-independent; the libm-era anchors were
    # 2.37/1.88). Close pair D/E minimums.
    # re-cut round 14 (plan change: kernel 2^47 domain guard), then
    # round 16 (kernel fold collapse — batch 1; close pair 3.077/2.665)
    # ... then round 17 (bigram passes repartitioned off the one-split
    # scan; 1.69/1.53 pair, 1.80 mid — max-of-minimums)
    "c65_bigram_perplexity": 1.80,
    "c67_triplet_mining": 0.69,
    "p34_release_report_v3": 1.12,
    "c68_perceptron_train": 2.80,
    "c69_pmi_collocations": 0.76,
    # round-11 (clean pairs at r11 HEAD; pair minimums); c70/c72
    # re-cut round 16 (one-parse literal construction — batch 2;
    # close pair 3.321/5.327 and 4.384/4.483). c71 re-cut in batch 4
    # (its 130 stat-agg columns + two 64-dim report arrays render as
    # parsed SQL; pair 1.612/1.885).
    # c70 re-cut round 17 late (input cache; final pair 1.87/1.59)
    "c70_kmeanspp_seed": 1.59,
    "c71_ivf_index_drift": 1.61,
    # c72 re-cut round 17 late (inherits c70's cached train; final
    # pair 2.26/2.19)
    "c72_learned_ivf_recall": 2.19,
    # round-12 (clean pair at r12 HEAD: run A's guard-kept rerun
    # 111.9 s + quiet run B 125.6 s; pair minimums)
    "c73_classifier_calibration": 0.58,
    "p39_release_datacard": 1.50,
    # c74 re-cut round 16 (one-parse literal codebooks — batch 2;
    # close pair 3.760/4.334)
    # re-cut again round 17 (fold passes repartitioned via
    # _c54_quantized; 3.55/2.60 pair, 2.48 mid — max-of-minimums)
    # ... and round 17 late (input cache; final pair 2.45/2.33)
    "c74_pq_train": 2.33,
    "c75_unigram_lm_train": 1.95,
    # late round-12 (second clean pair at r12 HEAD: guard-kept 139.9 s
    # + quiet 140.1 s; pair minimums)
    # re-cut round 14 (plan change: the 3 grid NLLs now ONE
    # stacked kernel fold + 4096-key pivot), then round 16 (kernel
    # fold collapse + one-parse score maps; close pair 3.057/3.226)
    # ... then round 17 (bigram lineage repartitioned below the
    # checkpoint; 2.55/2.35 pair, 2.46 mid)
    "p40_mixture_weight_learn": 2.46,
    # re-cut round 16 (plan change: Viterbi DP per DISTINCT
    # (lang, word) instead of per occurrence — batch 1; close pair
    # 2.616/2.367)
    "c76_unigram_apply_fertility": 2.37,
    # re-cut round 16 (one-parse literal codebooks/assign matrices —
    # batch 2; close pair 7.221/6.508)
    # re-cut again round 17 (fold passes repartitioned; 4.81/4.35
    # pair, 5.06 mid — max-of-minimums)
    # ... and round 17 late (input cache; final pair 3.27/2.94)
    "c77_trained_ivfadc": 2.94,
    # round-12b (third clean pair at r12 HEAD: 170.9 s with 3
    # quiet-probe noise cells over anchor + quiet 151.8 s with only
    # known-noise b19 over; pair minimums)
    "c79_pca_power_iteration": 0.93,
    "c81_pca_prefilter_recall": 1.11,
    "c80_phash_near_dup": 1.60,
    # re-cut round 16 (plan change: one checkpoint per CC round +
    # convergence early-exit in _c49_rep; close pair 4.769/2.728)
    "p43_dedup_aware_epochs": 2.73,
    # session-3 round-12 (fourth clean pair at r12 HEAD: 145.8 s with
    # zero cells over anchor + 137.9 s with only known-noise b19 over;
    # pair minimums)
    "c83_lsh_scurve_audit": 2.91,
    # re-cut round 14 (plan change: kernel domain guard) — this
    # re-read also CLOSES the r13 weak flag: the driver's 5.61 s
    # (2.06x) reading did not reproduce (pair 3.485/3.220).
    # Re-cut round 16 (kernel fold collapse; close pair 1.969/1.573)
    "c84_kneser_ney_bigram": 1.57,
    # round-13 close pair (D 163.6 s / E 162.4 s, guard quiet, probes
    # 0.41/0.41 and 0.54/0.39): the graph-ANN flagship, pair minimum
    # re-cut round 17 (pair folds repartitioned + driver-bounded beam
    # search; 4.04/2.02 pair — A leg in a moderate host phase — 2.34
    # mid: max-of-minimums keeps the 2x bar off known phase readings)
    "c91_knn_graph_search": 2.34,
    # round-14 close pair (A 163.9 s probes 0.371/0.390, B first
    # sweep 179.5 s probes 0.400/0.388 — B's guard fired on the
    # four stale pre-re-cut anchors + noise cells and kept the
    # first sweep; pair minimums): the graph-ingest maintenance
    # verb (4.535/6.194)
    # re-cut round 17 (pair folds repartitioned + one-pass edge
    # stats; 3.04/1.91 pair, 2.11 mid — max-of-minimums)
    "c96_graph_index_ingest": 2.11,
}
GUARD_FACTOR = 2.0
GUARD_MIN_CELLS = 4
PROBE_QUIET = 0.6  # nominal host probe ~0.44 s on a quiet host


def cells_over_anchor(
    times: dict[str, float],
    anchors: dict[str, float] = ANCHOR_SECONDS,
    factor: float = GUARD_FACTOR,
) -> list[str]:
    """Anchored query cells reading above factor x their anchor."""
    return [
        n
        for n, anchor in anchors.items()
        if n in times and times[n] > factor * anchor
    ]


def should_rerun_sweep(
    times: dict[str, float],
    anchors: dict[str, float] = ANCHOR_SECONDS,
    *,
    factor: float = GUARD_FACTOR,
    min_cells: int = GUARD_MIN_CELLS,
    probe_quiet: float = PROBE_QUIET,
) -> bool:
    """True when the run shows the stealth-degraded-phase signature:
    many anchored cells far over anchor while the probes read quiet
    (a LOUD probe already marks the run as degraded in the JSON; the
    guard exists for the phase the probes cannot see)."""
    probes = [
        times.get("_host_probe_start"),
        times.get("_host_probe_end"),
    ]
    if any(p is None or p >= probe_quiet for p in probes):
        return False
    return len(cells_over_anchor(times, anchors, factor)) >= min_cells


def host_probe_seconds() -> float:
    """Time a fixed single-core Python workload (~0.4 s on a quiet
    host). Recorded at the start AND end of the run as _host_probe_*
    cells (excluded from the total, like _session_init): when a
    driver run lands in one of this host's multi-minute degraded
    phases (BASELINE.md "Round-9 LATE HOST SHIFT"), the probe pair
    reads 2-10x nominal and says so in the JSON itself — the reader
    can tell a slow HOST from a slow PLAN without rerunning."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc += i
    if acc < 0:  # keep the loop un-eliminable
        print(acc)
    return time.perf_counter() - t0


def measured_seconds_ex(
    run,
    *,
    median_cutoff: float = MEDIAN_CUTOFF,
    stall_retry: float = STALL_RETRY,
    retryable: bool = True,
) -> tuple[float, int]:
    """Time one bench cell under the repeat-median + stall-retry
    protocol. ``run`` executes the cell once and returns its wall
    seconds; it is called 1-3 times depending on what the readings
    show (see the constants above for the full rationale). Returns
    ``(recorded_seconds, n_runs)`` — the run count lands in the bench
    JSON so a reader can tell a 1-shot reading from a reproduced
    minimum (VERDICT r10 item 3)."""
    dt = run()
    if not retryable:
        # NO_RETRY cells run inside a (session, sf)-cached build; ANY
        # rerun — stall-retry OR repeat-median — would time a cache
        # hit, so the first reading stands unconditionally (ADVICE r9).
        return dt, 1
    if dt <= median_cutoff:
        return sorted([dt, run(), run()])[1], 3
    if dt > stall_retry:
        runs = [dt]
        while min(runs) > stall_retry and len(runs) < 3:
            if (
                len(runs) == 2
                and abs(runs[1] - runs[0]) / min(runs) < 0.3
            ):
                break  # two consistent readings = real work
            runs.append(run())
        return min(runs), len(runs)
    return dt, 1


# The one stdout line must parse from the tail of output a caller of
# bench.py captures: summary_line stays under this many characters
# (pinned by tests/test_bench_protocol.py). Stored run records keep a
# shorter tail still, so the full payload also goes to bench_runs/.
CAPTURE_WINDOW = 8192


def payload(total: float, times: dict[str, float], sf) -> dict:
    """The parseable core of a run: metric, value, unit, queries, sf."""
    return {
        "metric": "headline_query_wall_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }


def summary_line(total: float, times: dict[str, float], sf) -> str:
    """The one-line stdout contract: ``payload`` and nothing else.
    VERDICT r16 item 2: the r15 line, grown by per-cell run counts
    and the guard block, outgrew the output-tail capture and was
    truncated from the front — the parse failed and the
    round-over-round table was lost. cell_runs and guard detail
    belong in bench_runs/*.json (where they have always been
    persisted), never on this line; its length is bounded by
    ``CAPTURE_WINDOW``."""
    return json.dumps(payload(total, times, sf))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from iceberg_playground_spark import registry
    from iceberg_playground_spark.session import get_spark

    registry.load_all()

    t0 = time.perf_counter()
    spark = get_spark(app_name="ips-bench")
    init_sec = time.perf_counter() - t0

    names = [n for n in HEADLINE if n in registry.QUERIES]

    def _cell(name: str):
        """The callable a bench cell times. p18 runs at the amortized
        batch size (all 4 arrival files in ONE epoch — the r8 sweep's
        2.15 s configuration) instead of its registry default of one
        file per epoch, which times 4x the per-epoch fixed cost."""
        if name == "p18_streaming_novelty_filter":
            from iceberg_playground_spark.queries.round7 import (
                p18_streaming_novelty_filter,
            )

            return lambda: p18_streaming_novelty_filter(
                spark, sf_dir, files_per_trigger=4
            )
        return lambda: registry.QUERIES[name](spark, sf_dir)

    # Warm-up: JVM JIT + parquet footer caches, mirroring a long-running
    # cluster's steady state (one throwaway run of the flagship, plus a
    # 1-row pass through the c51 tokenizer expression — its analysis/
    # compile cost is ~8 s once per session and data-size-independent,
    # so paying it on one literal row keeps the timed cell measuring
    # tokenization, not Catalyst warm-up).
    registry.QUERIES["b21_pricing_summary"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    from iceberg_playground_spark.queries.round9 import _c51_token_expr
    from pyspark.sql import functions as F

    spark.createDataFrame(
        [("warm up the tokenizer",)], "text string"
    ).select(F.expr(_c51_token_expr())).collect()

    # Round-16 warm-up extension (same steady-state rationale, applied
    # to the two remaining cold engines; documented in
    # OPTIMIZATION_r16.md): (a) the parquet WRITE path + lake commit
    # machinery (output committer, snapshot JSON, bounds collection)
    # and (b) the structured-streaming engine (first stream in a
    # fresh session pays a multi-second, data-size-independent
    # init). Both are one-time session costs a long-running cluster
    # never re-pays; without this they land in whichever headline
    # cell happens to touch that engine first, timing session init
    # instead of the cell's plan.
    import shutil as _sh
    import tempfile as _tf

    _wtmp = _tf.mkdtemp(prefix="ips_bench_warm_")
    try:
        from iceberg_playground_spark.tables import LakeCatalog

        _wt = LakeCatalog(spark, _wtmp).create_table(
            "warm", "w", "k BIGINT", drop_if_exists=True
        )
        _wt.append(spark.createDataFrame([(1,)], "k BIGINT"))
        _wt.read().write.format("noop").mode("overwrite").save()
        _wsrc = os.path.join(_wtmp, "stream_src")
        spark.createDataFrame([(1,)], "k BIGINT").coalesce(
            1
        ).write.parquet(_wsrc)
        (
            spark.readStream.schema("k BIGINT")
            .parquet(_wsrc)
            .writeStream.foreachBatch(lambda df, eid: None)
            .option(
                "checkpointLocation", os.path.join(_wtmp, "ck")
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        _sh.rmtree(_wtmp, ignore_errors=True)

    def _run(name: str) -> float:
        # construction is inside the timer for non-split cells:
        # streaming queries execute eagerly (availableNow drain)
        # during the call itself
        t = time.perf_counter()
        df = _cell(name)()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    # The anchor column was cut at sf0.1 (the driver's scale); at
    # other sf the comparison is meaningless — small-sf cells are
    # dominated by fixed plan-compile floors and false-trip the 2x
    # bar, so the guard (and the stalled-NO_RETRY flag, which uses
    # the same anchors) only arms at the anchor scale.
    anchors_apply = sf is not None and abs(sf - 0.1) < 1e-9

    def sweep(
        reuse: dict[str, float] | None = None,
        reuse_runs: dict[str, int] | None = None,
    ) -> tuple[dict[str, float], dict[str, int], list[str], float]:
        """One full pass over the headline cells. Returns (times,
        per-cell run counts, NO_RETRY cells whose single reading
        exceeded the stall threshold, headline total). ``reuse``
        (a prior sweep's times) makes this a guard RERUN: NO_RETRY
        cells and *_demo_build cells copy the prior readings instead
        of re-executing — their work is (session, sf)-cached, so a
        second execution times a cache hit, corrupting the reading
        AND discounting the rerun's total."""
        times: dict[str, float] = {"_session_init": round(init_sec, 3)}
        times["_host_probe_start"] = round(host_probe_seconds(), 3)
        cell_runs: dict[str, int] = {}
        stalled_no_retry: list[str] = []
        total = 0.0
        for name in names:
            if name in SPLIT_BUILD:
                # first call pays (and times) the demo-warehouse build
                # as its own cell; the query cell then re-runs against
                # the build cache, so it measures the plan under test.
                # (No stall retry here: a second call would time a
                # cache hit, not the build.)
                bname = f"{name}_demo_build"
                if reuse is not None and bname in reuse:
                    times[bname] = reuse[bname]
                else:
                    times[bname] = round(_run(name), 3)
            if name in NO_RETRY and reuse is not None and name in reuse:
                times[name] = reuse[name]
                cell_runs[name] = (reuse_runs or {}).get(name, 1)
                total += reuse[name]
                continue
            dt, n_runs = measured_seconds_ex(
                lambda: _run(name), retryable=name not in NO_RETRY
            )
            if (
                anchors_apply
                and name in NO_RETRY
                and dt > GUARD_FACTOR * ANCHOR_SECONDS.get(name, STALL_RETRY)
            ):
                # ADVICE r10: a stall-suspect NO_RETRY reading stands
                # by design (a rerun would time a cache hit) — flag it
                # in the JSON so the protocol can discard the run
                # instead of trusting probes alone. Stall-suspect =
                # over 2x the cell's own sf0.1 anchor (meaningless at
                # any other scale, hence the anchors_apply gate).
                stalled_no_retry.append(name)
            times[name] = round(dt, 3)
            cell_runs[name] = n_runs
            total += dt
        times["_host_probe_end"] = round(host_probe_seconds(), 3)
        return times, cell_runs, stalled_no_retry, total

    times, cell_runs, stalled_no_retry, total = sweep()
    guard = {
        "fired": False,
        "anchors_apply": anchors_apply,
        "cells_over_anchor": cells_over_anchor(times) if anchors_apply else [],
        "stalled_no_retry": stalled_no_retry,
    }
    if anchors_apply and should_rerun_sweep(times):
        # Stealth degraded phase (many cells far over anchor, quiet
        # probes): one whole-sweep retry; keep the run with the
        # smaller headline total. Both totals are recorded.
        print(
            f"degraded-run guard: {guard['cells_over_anchor']} over "
            f"{GUARD_FACTOR}x anchor, rerunning sweep once",
            file=sys.stderr,
        )
        guard["fired"] = True
        guard["first_total"] = round(total, 3)
        # the first sweep's trigger list survives whichever run is
        # kept — the JSON always shows WHY the guard fired
        guard["trigger_cells"] = list(guard["cells_over_anchor"])
        t2, cr2, snr2, total2 = sweep(reuse=times, reuse_runs=cell_runs)
        if total2 < total:
            times, cell_runs, total = t2, cr2, total2
            stalled_no_retry = sorted(set(stalled_no_retry) | set(snr2))
            guard["kept"] = "rerun"
            guard["cells_over_anchor"] = cells_over_anchor(times)
            guard["stalled_no_retry"] = stalled_no_retry
        else:
            guard["kept"] = "first"
            guard["rerun_total"] = round(total2, 3)

    print(summary_line(total, times, sf))
    # Durable full record (VERDICT r11 item 4): a stored run record
    # keeps a shorter tail of stdout than CAPTURE_WINDOW, which
    # truncates the per-cell map on wide runs — persist the whole
    # payload (plus a wall-clock stamp) to a tracked per-sf file so
    # every cell + guard field survives in-repo. Best-effort: the
    # stdout line IS the contract.
    try:
        import datetime

        rec = payload(total, times, sf)
        rec["cell_runs"] = cell_runs
        rec["guard"] = guard
        rec["recorded_at"] = datetime.datetime.now(
            datetime.timezone.utc
        ).isoformat(timespec="seconds")
        runs_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "bench_runs")
        os.makedirs(runs_dir, exist_ok=True)
        tag = "unknown" if sf is None else f"sf{sf:g}"
        with open(os.path.join(runs_dir, f"latest_{tag}.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()

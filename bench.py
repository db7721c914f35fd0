"""Benchmark loop — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing method (BASELINE.md target interpretation): the session is created
and warmed once (JVM startup + first-job overhead excluded — the reference
numbers are steady-state pandas/polars wall clock, and the 2× bar is
against engine work, not JVM boot). Each query is then executed end-to-end
with a `noop` sink so the full plan runs distributed without driver-side
collect cost.

Wall-clock contract (r12, verdict r11 #1): the WHOLE process runs under a
hard budget (``SPARK_GRAFT_BENCH_BUDGET_SEC``, default 900 s; 0 = no
ceiling for builder-side baseline runs). Quiesce, canary waits, the warm
pass, timed runs, and probes are all charged against one clock; when it
runs short the bench degrades in order — fewer repeats → no noise
retries → cold cells (untimed run recorded) → truncated tail → skipped
probes — and the artifact says exactly what was degraded. BENCH_r10 and
BENCH_r11 both ended as rc=124/no-record because the worst-case admission
(600 s quiesce + 420 s canary waits + 109 queries × up to 15 timed runs)
had no ceiling at all.

Artifact contract (r12, verdict r11 #2): ``bench_out.json`` is rewritten
ATOMICALLY (tmp + rename) after every measured query, so a kill at any
instant leaves a complete, parseable JSON of everything measured so far
(``partial: true`` until the headline loop finishes). Tier-1 rows
(flagship ×2, the 5 most expensive cells, one per query family) run
first so even a truncated record carries the rows BASELINE.md cares
about.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # reference-parity core
    "clinical_cohort_week",
    "clinical_cohort_month",
    "agg_pricing_summary",
    "agg_revenue_by_nation",
    "join_asof_backward",
    "window_running_agg",
    "multikey_sort",
    # extension surface (dedup / similarity / text / streaming / multimodal)
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "similarity_topk_bruteforce",
    "stream_tumbling_counts",
    "stream_session_windows",
    "multimodal_byte_histogram",
    # TPC-H pack + training-data curation (round 1 widening)
    "agg_revenue_forecast",
    "topk_returned_customers",
    "text_repetition_topgram",
    "pack_sequences_quota",
    "sample_stratified_orders",
    # heavy tail (round 2): widest join tree, iterative operator, gap fill
    "dedup_cluster_components",
    "agg_market_share",
    "timeseries_gapfill_interpolate",
    # round 3: remaining heavy extension ops get regression baselines
    "similarity_neardup_lsh",
    "dedup_simhash_bands",
    # round 3 widening: TPC-H completion pack representatives, the
    # stateful-profile batch twin, and quantized ANN
    "agg_custdist",
    "agg_late_suppliers",
    "agg_product_type_profit",
    "stream_user_profile",
    "similarity_quantized_topk",
    "join_asof_nearest",
    "retention_cohort_matrix",
    # round 4: the LSH production blocking regime (clustered corpus,
    # tau=0.9, bits=10x8 tables) next to the recall-regime row above —
    # candidate volumes for both are logged under "lsh_candidates"
    "similarity_neardup_lsh_prod",
    # round 5: the two most state-heavy Python-adjacent ops (greedy bin
    # packing via applyInPandas, stream-stream interval join) and the
    # star-contraction CC row backing the O(log² d) claim (round counts
    # logged under "cc_rounds")
    "pack_sequences_greedy",
    "stream_click_purchase_join",
    "dedup_cluster_components_star",
    # round 5 additions: ingest-path representatives — incremental dedup of
    # a drop against the corpus, stream-static dim enrichment
    "dedup_incremental_against_corpus",
    "stream_enrich_static_dim",
    # round 5 widening: the explode-heaviest new op (rolling k-gram span
    # dedup), the projection+rerank ANN cascade, and batch sessionization
    # (lag -> running sum -> rollup in one exchange)
    "dedup_substring_spans",
    "similarity_projection_rerank",
    "sessionize_events_batch",
    # late round 5: hard-negative triplet mining (broadcast + two-phase
    # rank) and BM25 ranking (filtered token stream, fixed-order scoring)
    "similarity_contrastive_triplets",
    "text_bm25_rank",
    # fixed-point integer PageRank over the dup graph (adaptive local /
    # distributed execution, same family as the CC rows)
    "graph_pagerank_dup_hubs",
    # PMI collocations (doc-grouped self-join co-occurrence shape) and
    # the quality-survivor composition closing the dedup decision path
    "text_pmi_cooccurrence",
    "dedup_survivor_by_quality",
    # prefix-filtered set-similarity join: exact-recall blocking indexing
    # only each doc's rarest prefix shingles (third algorithm against the
    # same exact-Jaccard oracle)
    "dedup_prefix_filter_join",
    # round 6: sweep-line over the distributed prefix sum, the EWMA
    # recurrence fold, asymmetric containment dedup, and the portable
    # Bloom membership sketch
    "events_max_concurrency",
    "timeseries_ewma_fold",
    "dedup_containment_pairs",
    "agg_bloom_filter_probe",
    "join_interval_containment",
    "events_cohort_metric_by_age",
    # round 7: winnowing fingerprint dedup (capped postings self-join over
    # MOSS window-minimum hashes), the triple-rank RFM segmentation
    # (3× ordered_prefix on the customer rollup), and the two-state Holt
    # fold (struct-accumulator F.aggregate)
    "dedup_winnowing_pairs",
    "events_rfm_scores",
    "timeseries_holt_smoothing",
    # round 7 late additions: exactly-once binned overlap join, bigram
    # conditional-LM scoring (posexplode self-join + broadcast dims),
    # overlap chunking (explode-heavy scan), exact-integer Gini
    "join_interval_overlap",
    "text_bigram_logprob",
    "text_chunk_overlap",
    "agg_gini_coefficient",
    # round 8: BPE merge-pair induction (distinct-word explode + global
    # top-k), PSI drift diagnostic (single-pass conditional counts),
    # nucleus top-p curation (shared-window running sum + partition
    # total), exact median/MAD robust scaling (two rank passes)
    "text_bpe_merge_pairs",
    "diag_distribution_drift_psi",
    "sample_quality_nucleus",
    "feature_robust_scale",
    # round 8 late: per-series CUSUM changepoint (three frames over one
    # partition+sort) and distributed power iteration (exact-integer
    # X^T(Xv), bounded 64-long pullbacks, final step in-plan)
    "timeseries_cusum_changepoint",
    "embedding_top_eigenvector",
    # round 8: SemDeDup within-cluster pairwise dedup (broadcast argmin
    # assignment + one cid shuffle) and CUBE grouping-sets aggregate
    "dedup_semantic_semdedup",
    "agg_cube_nation_segment",
    # round 8: single-pass curation funnel + calendar-bounded rolling corr
    "curation_filter_funnel",
    "timeseries_rolling_corr",
    # round 8: LOO target encoding (agg-then-broadcast-back, no skewed
    # window), k-anonymity profile, lag-join ACF, map-only syllable fold
    "feature_target_encoding",
    "pii_k_anonymity",
    "timeseries_autocorr",
    "text_syllable_complexity",
    # round 8: linear per-doc shingle-novelty profile (df enrichment
    # join, no pair generation)
    "text_shingle_novelty",
    # round 8: distributed skyline (ordered_prefix dominance pass),
    # gaps-and-islands streaks, session path top-k
    "agg_skyline_pareto",
    "events_longest_streak",
    "events_top_paths",
    # round 8: exact-integer chi-square, KL-doctrine entropy, RAKE
    "diag_chisq_independence",
    "events_user_entropy",
    "text_rake_keywords",
    # round 8: langid eval matrix, HUGEINT ANOVA, burstiness
    "eval_langid_confusion",
    "diag_anova_returnflag",
    "text_token_burstiness",
    # round 8: exact weighted quantiles (ordered_prefix + cross-multiply
    # boundaries), per-period-normalized seasonal index
    "agg_weighted_quantiles",
    "orders_seasonal_index",
    # round 8: float-free rolling OLS slope, VAD islands over RMS frame
    "window_rolling_regression",
    "multimodal_vad_segments",
    # round 8: exact DAU/WAU via temporal contribution explode,
    # sign-only Simpson's paradox screen
    "events_dau_wau_stickiness",
    "diag_simpsons_paradox",
    # round 8 continuation: real codec decode under the oracle gate
    # (synthesis + decode = two chained Arrow mapInPandas hops), linear
    # multi-touch attribution (per-user prefix windows + conv join),
    # 2-round label propagation (checkpoint-pinned iterative graph),
    # one oracle-gated Lloyd step (broadcast argmin + (cid,dim) combine),
    # Gopher intra-doc repetition (explode + count-distinct agg),
    # midrank Mann-Whitney U (one ordered_prefix pass), Hamilton
    # token-budget apportionment, cross-batch quantile normalization
    # (composite-order single-pass per-batch ranks)
    "multimodal_decode_png",
    "events_attribution_linear",
    "graph_label_propagation",
    "similarity_kmeans_lloyd_step",
    "text_intradoc_repetition",
    "diag_mannwhitney_u",
    "mixture_token_budget_allocation",
    "feature_quantile_normalization",
    # round 8: integer sign-test burst detector
    "events_burst_detection",
    # round 8 late: mergeable equi-width histogram, grid-blocked
    # spatial neighbors join (geohash shape, exactly-once pairs)
    "agg_histogram_equiwidth",
    "join_spatial_grid_neighbors",
    # round 8 late: Wilson lower-bound ranking, exact-integer KS test
    "topk_suppliers_wilson",
    "diag_ks_two_sample",
    # round 8 late: integer Spearman rank agreement, balanced downsample
    "eval_rank_correlation_spearman",
    "sample_balanced_downsample",
    # round 8 late: bounded-frame exact rolling median, fixed-point
    # 3-step Markov projection
    "timeseries_rolling_median",
    "events_markov_3step",
    # round 8 late: per-source dup-rate scorecard, Heaps growth curve
    "diag_duplicate_rate_by_source",
    "text_vocab_growth_heaps",
    # round 8 continuation: leave-one-out 5-NN label eval; round 9 moved
    # it onto the IVF candidate path (cid hash join, oracle-replayed
    # bucketing) with the all-pairs BNLJ as the GUARDED fallback
    "eval_knn_label_accuracy",
]

# Tier-1 rows run FIRST (verdict r11 #3): flagship ×2, the five most
# expensive cells of the promoted r11 baseline, and one representative per
# query family. A budget-truncated (or killed) run therefore still records
# the rows the 2×-of-BASELINE bar and the cross-round comparison need.
# The two cells the BASELINE.md 2× bar is read from (flagship_median in
# the printed line) — they get a deepened repeat pool, see the loop.
FLAGSHIP_CELLS = ("clinical_cohort_week", "clinical_cohort_month")

TIER1 = [
    "clinical_cohort_week",
    "clinical_cohort_month",
    # worst-5 by the r11 min-of-3 baseline
    "eval_knn_label_accuracy",
    "dedup_cluster_components_star",
    "graph_label_propagation",
    "dedup_prefix_filter_join",
    "similarity_neardup_lsh_prod",
    # one per family
    "agg_pricing_summary",
    "join_asof_backward",
    "window_running_agg",
    "multikey_sort",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "text_quality",
    "stream_tumbling_counts",
    "stream_enrich_static_dim",
    "multimodal_byte_histogram",
    "sample_stratified_orders",
    "timeseries_gapfill_interpolate",
    "events_max_concurrency",
    "diag_ks_two_sample",
    "feature_quantile_normalization",
    "pack_sequences_quota",
    "graph_pagerank_dup_hubs",
    "eval_rank_correlation_spearman",
]


class _Budget:
    """Hard wall-clock budget for the whole bench process. Everything —
    quiesce, canary waits, warm pass, timed runs, probes — is charged
    against ONE clock; consumers check ``remaining()`` and degrade
    instead of overrunning. ``total_sec <= 0`` means unbounded (builder
    baseline runs, which want full best-of-5 × canary gating)."""

    def __init__(self, total_sec: float):
        self.total = total_sec if total_sec > 0 else float("inf")
        self.t0 = time.time()

    def elapsed(self) -> float:
        return time.time() - self.t0

    def remaining(self) -> float:
        return self.total - self.elapsed()


def _choose_repeats(
    remaining_sec: float,
    queries_left: int,
    per_run_est: float,
    max_repeats: int,
) -> int:
    """Timed-repeat count that fits this query's fair share of the
    remaining budget: share = remaining / queries_left (this query
    included); repeats = share / per-run estimate (the query's own
    untimed warm run), clamped to [1, max_repeats]. Cheap queries keep
    best-of-5 statistics under any realistic budget; expensive ones
    degrade first. Pure function — pinned in tests/test_bench_tools.py."""
    if queries_left <= 0 or math.isinf(remaining_sec):
        return max_repeats
    share = remaining_sec / queries_left
    return max(1, min(max_repeats, int(share / max(per_run_est, 0.02))))


def _flush(out_path: str, record: dict) -> None:
    """Atomically rewrite the artifact (tmp file + os.replace): called
    after EVERY measured query, so at any kill instant bench_out.json is
    either the previous complete JSON or the new complete JSON — never a
    torn write. BENCH_r11's rc=124 yielded nothing because the artifact
    was only flushed after the whole loop. The tmp name is per-pid and
    unlinked on serialization failure (ADVICE r12: a crash mid-dump left
    a stale .tmp next to the artifact, and a fixed tmp name let two
    concurrent benches tear each other's half-written file before the
    rename)."""
    tmp = f"{out_path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(record, fh, indent=1)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    os.replace(tmp, out_path)


# The driver captures only the LAST 2000 chars of stdout (BENCH_r13's
# "tail" field is exactly 2000 chars); a final line longer than that
# loses its HEAD and the driver records parsed:null (the r7 post-mortem).
# Budget the line to 1900 bytes so the trailing newline plus any capture
# slop can never push it over.
COMPACT_LINE_LIMIT = 1900


def _prev_printed_names(root: str | None = None) -> set[str]:
    """Names the PREVIOUS round's driver-parsed line carried.

    The driver's per-query comparator diffs this round's printed queries
    map against last round's; any name present there but absent here is
    recorded as dropped_from_bench even when the cell ran (five phantom
    drops in PERF_r13). A cell that was slow last round (storm or real)
    and fast now is exactly the cell most at risk of falling out of the
    slowest-first packing — so those names are force-kept. Reads the
    highest-numbered BENCH_r*.json with a parsed record; empty set when
    none exists (fresh checkout, driver sandbox without history)."""
    root = root or os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, set[str]] = (-1, set())
    try:
        for fn in os.listdir(root):
            m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
            if not m or int(m.group(1)) <= best[0]:
                continue
            try:
                with open(os.path.join(root, fn)) as fh:
                    parsed = json.load(fh).get("parsed") or {}
                q = parsed.get("queries")
                if isinstance(q, dict) and q:
                    best = (int(m.group(1)), set(q))
            except (OSError, ValueError):
                continue
    except OSError:
        pass
    return best[1]


def _compact_line(
    medians: dict[str, float],
    extras: dict,
    suspect_weather: list[str],
    retimed_cells: dict[str, dict],
    limit: int = COMPACT_LINE_LIMIT,
    keep: set[str] | None = None,
) -> str:
    """Build the driver-parsed one-line JSON summary.

    PERF_r13 was blind (n_common 0, null geomean, empty scaling block,
    five phantom dropped_from_bench cells) because this line carried only
    the 5 slowest cells and the driver's per-query comparator reads ONLY
    the printed line, never bench_out.json (verdict r13 #1). The full
    109-cell map cannot fit — r7 printed it, blew the driver's 2000-char
    tail capture, and got parsed:null — so: pack as many {name: sec}
    entries as fit, slowest first (a strict superset of the old top-5, so
    no existing entry is removed or renamed), force-keep every name the
    previous round's parsed line carried (``keep``) so a cell can never
    look dropped just because it got FASTER, and record how many cells
    were left out (queries_omitted). Per-cell weather flags travel as
    indices into the queries dict's key order (suspect_qi / retimed_qi):
    the full name lists would not fit the byte budget; names live in
    bench_out.json. Pure function, pinned in tests/test_bench_tools.py."""
    keep = keep or set()
    order = sorted(medians.items(), key=lambda kv: kv[1], reverse=True)
    rec = {
        "metric": "headline_queries_total",
        **extras,
        "queries": {n: round(v, 2) for n, v in order},
        "queries_omitted": 0,
        "suspect_qi": [],
        "retimed_qi": [],
    }

    def _finalize() -> str:
        names = list(rec["queries"])
        rec["suspect_qi"] = [
            i for i, n in enumerate(names) if n in suspect_weather
        ]
        rec["retimed_qi"] = [
            i for i, n in enumerate(names) if n in retimed_cells
        ]
        rec["queries_omitted"] = len(medians) - len(names)
        return json.dumps(rec)

    line = _finalize()
    # Drop the CHEAPEST cells until the line fits — first those not in
    # ``keep``, then (only if still over budget) kept ones. The slowest
    # cells are the cross-round signal and the old top-5 contract is a
    # prefix of this ordering, so it can never be evicted before
    # anything else.
    for pass_protects_keep in (True, False):
        evictable = [
            n
            for n, _ in reversed(order)
            if n in rec["queries"]
            and (not pass_protects_keep or n not in keep)
        ]
        for name in evictable:
            if len(line) <= limit or len(rec["queries"]) <= 5:
                break
            rec["queries"].pop(name)
            line = _finalize()
    return line


def _headline_value(timings: dict[str, float], repeats_used: dict[str, int]) -> float:
    """Headline total = sum of WARM cells only (repeats ≥ 1). A cold
    cell's number is its single untimed run — listing/AQE/codegen
    included, steal-exposed, upper bound by construction — so folding it
    into the cross-round headline poisons the comparison (verdict r12
    #5: events_max_concurrency entered r12's value with an untimed
    56.5 s run). Cold cells stay visible in queries/budget.cold_cells."""
    return round(
        sum(v for n, v in timings.items() if repeats_used.get(n, 0) >= 1), 4
    )


def _git_sha() -> str | None:
    """Short HEAD sha stamped into every bench record so the baseline
    promoter can refuse folding cells measured on OLD code into a new
    baseline (ADVICE r11: the no-args glob silently mixed stale runs)."""
    try:
        import subprocess

        return (
            subprocess.run(
                [
                    "git",
                    "-C",
                    os.path.dirname(os.path.abspath(__file__)),
                    "rev-parse",
                    "--short=12",
                    "HEAD",
                ],
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:  # noqa: BLE001 — stamp is best-effort
        return None


def _canary_ms() -> float:
    """Fixed single-thread pure-Python workload (~60-90 ms on this host
    when quiet). The host is a hypervisor guest whose CPU can be stolen
    in multi-second bursts that NO guest-visible counter records
    (measured: a 32-way pure-Python spin and a Spark stage both inflated
    6× in lockstep while /proc/stat steal stayed < 1% and loadavg was
    self-load only) — so the only reliable noise detector is a
    calibrated in-process workload. Wall-time of this loop is the
    canary: if IT inflates, everything measured in the same window is
    suspect."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000.0


def _mp_spin(n: int) -> int:
    """Worker body for the multi-process canary (module-level for
    pickling). Pure CPU, no imports, no shared state."""
    x = 0
    for i in range(n):
        x += i * i
    return x


class _MpCanary:
    """PARALLEL-load canary (r12). Run A of the r12 session recorded
    noisy_queries=[] while mid-run cells inflated 18-55× against both
    the promoted floors and a same-code run 90 minutes earlier — a
    contention mode that punishes multi-core load but lets a
    single-thread spin through, invisible to _canary_ms by
    construction. This instrument runs the same spin in N forked
    processes simultaneously (no GIL coupling): on free cores the batch
    completes in ~one single-spin time; under parallel-punishing steal
    it inflates like a Spark stage does. Evidence-only — one reading
    per measured query, per-query degradation flags and the full
    distribution in the artifact (host.canary.mp) — so a reader can
    separate engine deltas from this mode after the fact; the baseline
    promoter refuses runs with too many mp-degraded windows."""

    def __init__(self, workers: int | None = None, ratio: float = 2.0):
        self.ratio = ratio
        self.readings: list[float] = []
        self.degraded_queries: list[str] = []
        self.floor_ms: float | None = None
        self._pool = None
        try:
            import multiprocessing as mp

            n = workers or min(8, max(2, (os.cpu_count() or 8) // 4))
            self._pool = mp.get_context("fork").Pool(n)
            self._n = n
            self.floor_ms = min(self.read_ms() for _ in range(3))
        except Exception as e:  # noqa: BLE001 — evidence-only instrument
            print(f"WARN bench: mp canary unavailable: {e}", file=sys.stderr)
            # ADVICE r12: the pool may already exist when calibration
            # throws — terminate it or 8 forked spinners keep living on
            # the very box the bench is measuring.
            self.close()

    def read_ms(self) -> float | None:
        if self._pool is None:
            return None
        t0 = time.perf_counter()
        self._pool.map(_mp_spin, [2_000_000] * self._n)
        ms = (time.perf_counter() - t0) * 1000.0
        self.readings.append(ms)
        if self.floor_ms is None or ms < self.floor_ms:
            self.floor_ms = ms  # running min, same doctrine as the 1-thread gate
        return ms

    def check_bracket(self, query_name: str, pre_ms: float | None) -> float | None:
        """Post-window reading; flag the window when EITHER bracket side
        exceeded ratio × floor. r12's driver run had ~10 inflated cells
        and the single post-window reading caught exactly 1 — a burst
        ending inside the window is invisible to the trailing reading
        alone, so every tier-1 window is now bracketed on both sides
        (verdict r12 #2). Returns the post reading."""
        post = self.read_ms()
        if self.floor_ms is not None and any(
            m is not None and m > self.ratio * self.floor_ms
            for m in (pre_ms, post)
        ):
            self.degraded_queries.append(query_name)
        return post

    def close(self) -> None:
        if self._pool is not None:
            self._pool.terminate()
            self._pool = None

    def stats(self) -> dict | None:
        if self.floor_ms is None:
            return None
        rs = sorted(self.readings)
        return {
            "workers": self._n,
            "floor_ms": round(self.floor_ms, 2),
            "gate_ratio": self.ratio,
            "readings_n": len(rs),
            "median_ms": round(rs[len(rs) // 2], 2) if rs else None,
            "p90_ms": round(rs[int(len(rs) * 0.9)], 2) if rs else None,
            # queries whose post-run parallel canary read > ratio × floor:
            # the window likely sat in parallel-punishing steal — treat
            # those cells as upper bounds even when noisy_queries is empty
            "degraded_queries": self.degraded_queries,
        }


class _HostNoiseGate:
    """Canary-gated measurement windows (r10: the loadavg gate cannot
    see hypervisor contention). Calibrates a floor at startup, then
    before each query's timed block waits (bounded) for the canary to
    return within ``ratio`` of the floor; after the block a second
    canary reading flags the window as noisy if the burst started
    mid-block. The bench artifact carries the full accounting so a
    reader can separate engine regressions from host weather."""

    def __init__(
        self,
        ratio: float = 1.6,
        max_wait_sec: float = 45.0,
        total_wait_budget_sec: float = 420.0,
    ):
        self.ratio = ratio
        self.max_wait_sec = max_wait_sec
        # Global cap across the whole run: on a PERSISTENTLY noisy host
        # the per-attempt waits would otherwise compound into hours
        # (109 queries × up to 15 attempts × 45 s); once the budget is
        # spent the bench degrades to ungated timing and the artifact
        # says so (budget_exhausted).
        self.total_wait_budget_sec = total_wait_budget_sec
        runs = sorted(_canary_ms() for _ in range(7))
        self.floor_ms = runs[0]
        self.waited_sec = 0.0
        self.noisy_queries: list[str] = []
        self.redone_queries: list[str] = []
        self.worst_ratio = round(runs[-1] / runs[0], 2)
        # Every reading, for the artifact's distribution stats: a ratio
        # gate cannot SEE sustained degradation (floor calibrates high,
        # or a single quiet dip strands the floor below a plateau the
        # host then sits on) — but median/p90 vs floor in the record
        # lets a reader diagnose it after the fact (r11: interactive
        # canaries sat at ~240-320 ms for hours while run floors read
        # ~110 ms; the committed records should carry that evidence).
        self.readings: list[float] = list(runs)

    def _quiet(self) -> bool:
        ms = _canary_ms()
        self.readings.append(ms)
        # The floor is a running MIN: if calibration itself landed in a
        # noise burst, any later quiet reading corrects the gate downward
        # (a too-high floor silently waves bursts through).
        if ms < self.floor_ms:
            self.floor_ms = ms
        return ms <= self.ratio * self.floor_ms

    def wait_quiet(self) -> bool:
        """Wait (bounded) for a quiet canary; True when quiet on exit.

        Only genuine waiting (sleep + retry) is charged against the
        global budget — the ~0.1-0.5 s canary reading on an
        immediately-quiet host is measurement, not waiting, and across
        ~109 queries × 5 repeats charging it would erode the 420 s
        budget into budget_exhausted without any contention ever seen."""
        t0 = time.time()
        ok = self._quiet()
        if ok:
            return True
        while (
            time.time() - t0 < self.max_wait_sec
            and self.waited_sec + (time.time() - t0) < self.total_wait_budget_sec
        ):
            time.sleep(2.0)
            ok = self._quiet()
            if ok:
                break
        self.waited_sec += time.time() - t0
        return ok

    def budget_exhausted(self) -> bool:
        return self.waited_sec >= self.total_wait_budget_sec

    def stats(self) -> dict:
        rs = sorted(self.readings)
        return {
            "floor_ms": round(self.floor_ms, 2),
            "calib_worst_ratio": self.worst_ratio,
            "gate_ratio": self.ratio,
            "waited_sec": round(self.waited_sec, 1),
            "budget_exhausted": self.budget_exhausted(),
            # distribution of ALL canary readings: median/p90 far above
            # floor_ms = the run sat in a SUSTAINED degradation plateau
            # the ratio gate cannot reject — treat every cell as an
            # upper bound and lean on the min-of-N baseline instead
            "readings_n": len(rs),
            "median_ms": round(rs[len(rs) // 2], 2) if rs else None,
            "p90_ms": round(rs[int(len(rs) * 0.9)], 2) if rs else None,
            # could not assemble a full clean best-of-N set — treat the
            # recorded number as an upper bound, not an engine datum
            "noisy_queries": self.noisy_queries,
            # ≥1 run discarded for a bracket-canary hit, but a full
            # clean set was still assembled — numbers are trustworthy
            "queries_with_discards": self.redone_queries,
        }


def _quiesce(max_load: float, max_wait_sec: float) -> float:
    """Block until 1-min loadavg drops below ``max_load`` (bounded by
    ``max_wait_sec``) — BENCH_r09 was captured while 50M-row scale probes
    had the box at loadavg 20+, recording a phantom +10% regression and
    3.5× per-query outliers that two idle-box runs contradicted (verdict
    r9 #1). Measuring under known load is a measurement defect; waiting
    out the contention costs minutes and saves a round of forensics.
    Returns the seconds waited."""
    t0 = time.time()
    while time.time() - t0 < max_wait_sec:
        try:
            if os.getloadavg()[0] < max_load:
                break
        except OSError:
            break
        print(
            f"WARN bench: loadavg {os.getloadavg()[0]:.1f} >= {max_load}; "
            "waiting for quiesce",
            file=sys.stderr,
        )
        time.sleep(15)
    return round(time.time() - t0, 1)


def main() -> None:
    budget = _Budget(
        float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "900"))
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Quiesce may use at most 30% of the budget — waiting out contention
    # is worth minutes, not the whole record (r11: 600 s quiesce + canary
    # waits + retries compounded past the driver's timeout).
    quiesce_waited = _quiesce(
        float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "4")),
        min(
            float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT", "600")),
            0.3 * budget.total,
        ),
    )
    try:
        load_at_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_at_start = None

    # Fork the parallel-canary pool BEFORE the JVM (and before pyspark
    # imports) so the workers inherit a minimal process image.
    mp_canary = _MpCanary()

    from datamodel_clinicaldata_spark.registry import QUERIES
    from datamodel_clinicaldata_spark.session import get_spark

    spark = get_spark("bench")
    # Warm: touch the input files + trigger one tiny job so first-run JVM
    # class-loading doesn't land inside a measured query.
    spark.range(1000).selectExpr("sum(id)").collect()
    from datamodel_clinicaldata_spark.sources.readers import read_table

    read_table(spark, sf_dir, "lineitem").count()

    # Tier-1 rows first (see TIER1): a truncated/killed run still records
    # the flagship, the expensive tail, and one row per family.
    names = [n for n in TIER1 if n in QUERIES]
    names += [n for n in HEADLINE if n in QUERIES and n not in names]
    names += [n for n in os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "").split(",") if n in QUERIES and n not in names]
    # Cell isolation / test harness: SPARK_GRAFT_BENCH_ONLY restricts the
    # run to an explicit comma-list (doctrine: re-measure a suspect cell
    # in a fresh session; also how the tripwire integration test injects
    # synthetic cells without a 109-query run).
    only = [
        n
        for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if n in QUERIES
    ]
    if only:
        names = only

    # Compile/JIT warm-up: run each headline plan once at the smallest scale
    # factor so whole-stage codegen + Python plan construction costs land
    # outside the measured runs (BASELINE.md measures steady-state engine
    # work; the reference numbers are warm pandas/polars loops). Budget:
    # the warm pass may spend up to 30% of the clock; past that the
    # remaining plans warm inside their own untimed first run instead.
    warm_dir = "/root/testdata/sf0.001"
    warm_pass = "skipped"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        warm_pass = "full"
        for name in names:
            if budget.elapsed() > 0.3 * budget.total:
                warm_pass = f"truncated_at:{name}"
                break
            try:
                QUERIES[name](spark, warm_dir).write.mode("overwrite").format("noop").save()
            except Exception:  # noqa: BLE001 — warm-up is best-effort
                pass

    # Steady-state measurement (BASELINE.md interpretation): the reference
    # numbers are warm single-process loops, so each query gets one
    # UNTIMED run at the target scale (absorbs file-index listing, AQE
    # first-execution re-planning, codegen compilation) and then the best
    # of up to five timed runs is recorded — round-1 best-of-2 sat inside
    # a ±0.5 s JVM noise band and misread the flagship by ~15%. Under a
    # tight budget the repeat count degrades per query (fair-share, see
    # _choose_repeats) before the tail is truncated.
    repeats_cap = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    repeats_used: dict[str, int] = {}
    cold_cells: list[str] = []
    truncated_after: str | None = None
    # Promoted per-cell floors, loaded UP FRONT: they drive both the
    # closing vs_prev section and the per-cell steal tripwire below.
    base_path = os.environ.get(
        "SPARK_GRAFT_BENCH_BASELINE",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_baseline.json"
        ),
    )
    floors: dict[str, float] = {}
    baseline_sha: str | None = None
    if os.path.isfile(base_path):
        try:
            with open(base_path) as fh:
                base_rec = json.load(fh)
            # queries_min is the canonical key since r12; queries_median
            # is the pre-r12 name for the same min-of-N values.
            floors = base_rec.get("queries_min") or base_rec.get(
                "queries_median", {}
            )
            baseline_sha = base_rec.get("git_sha")
        except Exception as e:  # noqa: BLE001
            print(f"WARN bench: baseline unreadable: {e}", file=sys.stderr)
    # Per-cell steal tripwire (verdict r12 #1): steal noise is strictly
    # additive, so a median k× above the promoted floor for the same
    # code lineage is either host weather or a real regression — both
    # worth ONE budget-charged, canary-gated re-measure. A re-measure
    # that lands back under the bar corrects the cell (retimed_cells
    # carries was/now); one that stays inflated leaves the cell flagged
    # in suspect_weather, and the clean tier-1 total excludes it — so a
    # reader of the parsed line can no longer mistake a steal storm
    # (r12: dedup_minhash_lsh 100.9 s vs its 1.37 s floor) for a 70×
    # engine regression, while a genuine regression still shows up as a
    # flagged cell whose re-measure refused to come down.
    trip_ratio = float(os.environ.get("SPARK_GRAFT_BENCH_TRIP_RATIO", "3.0"))
    suspect_weather: list[str] = []
    retimed_cells: dict[str, dict] = {}
    # Mid-headline load trace (verdict r9 #1 done-criterion): the artifact
    # must carry evidence that the MEASUREMENT WINDOW itself was quiet —
    # loadavg_at_start/end bracket the run but miss probes or external
    # work landing mid-loop. Sampled once per query; max recorded.
    mid_load_max = 0.0
    # Canary waits may use at most ~20% of the budget (420 s cap matches
    # the pre-r12 behavior for unbounded builder runs).
    gate = _HostNoiseGate(
        total_wait_budget_sec=min(420.0, 0.2 * budget.total)
    )
    sha = _git_sha()
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"),
    )
    # Finalize reserve: flush + spark.stop + stdout line.
    RESERVE = 25.0

    def _snapshot(partial: bool) -> dict:
        # Tier-1 clean total: the cross-round comparison number. Excludes
        # cold cells (untimed) and suspect_weather cells (median > trip
        # ratio × floor, re-measure refused to come down) — the two cell
        # classes whose numbers are weather, not engine.
        tier1_clean = [
            n
            for n in TIER1
            if n in medians
            and repeats_used.get(n, 0) >= 1
            and n not in suspect_weather
        ]
        rec = {
            "metric": "headline_queries_total",
            # Sum of WARM cells only (repeats >= 1) — see _headline_value.
            "value": _headline_value(timings, repeats_used),
            "unit": "sec",
            "queries": dict(timings),
            "queries_median": dict(medians),
            # Cells whose median tripped > trip_ratio × promoted floor and
            # whose gated re-measure STAYED above the bar: weather-suspect
            # (or a real regression — the one cell class a reader must
            # check by hand). retimed_cells are the opposite outcome: the
            # re-measure came back under the bar and replaced the number.
            "suspect_weather": list(suspect_weather),
            "retimed_cells": dict(retimed_cells),
            "tier1_total_clean": round(
                sum(medians[n] for n in tier1_clean), 4
            ),
            "tier1_clean_n": len(tier1_clean),
            "trip_ratio": trip_ratio,
            "baseline_git_sha": baseline_sha,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            # partial=true → the headline loop had not finished when this
            # record was written (the per-query incremental flush); a
            # reader holding a partial record has a kill/timeout on hand.
            "partial": partial,
            "git_sha": sha,
            "created_unix": int(time.time()),
            "budget": {
                "budget_sec": None if math.isinf(budget.total) else budget.total,
                "elapsed_sec": round(budget.elapsed(), 1),
                "warm_pass": warm_pass,
                "repeats_cap": repeats_cap,
                # per-query timed-run counts actually achieved; 0 = cold
                # cell (only the untimed run fit the budget)
                "repeats_used": dict(repeats_used),
                "cold_cells": list(cold_cells),
                "truncated_after": truncated_after,
            },
        }
        try:
            la0, la1, la2 = os.getloadavg()
            mem_kb = 0
            with open("/proc/meminfo") as fh:
                for line in fh:
                    if line.startswith("MemAvailable"):
                        mem_kb = int(line.split()[1])
                        break
            rec["host"] = {
                "loadavg_at_start": load_at_start,  # pre-existing contention
                "quiesce_waited_sec": quiesce_waited,
                # Max 1-min load sampled between measured queries.
                # CALIBRATION: the bench's OWN 32-thread bursts push this
                # to ~8-12 even on an otherwise-idle box; external
                # contamination (the r9 failure: concurrent 50M-row
                # probes) reads 20+. Read together with loadavg_at_start.
                "loadavg_mid_headline_max": round(mid_load_max, 2),
                "loadavg_at_end": [round(la0, 2), round(la1, 2), round(la2, 2)],
                "mem_available_gb": round(mem_kb / 1_048_576, 1),
                "cpus": os.cpu_count(),
                # Hypervisor-noise canary accounting (r10): floor_ms is
                # the calibrated quiet-host reading; noisy_queries could
                # not assemble a full clean run set (numbers are upper
                # bounds, not engine data); queries_with_discards dropped
                # ≥1 burst-bracketed run but their numbers are clean.
                # canary.mp is the PARALLEL-load instrument (see
                # _MpCanary): mp.degraded_queries flags windows the
                # 1-thread gate cannot see.
                "canary": {**gate.stats(), "mp": mp_canary.stats()},
            }
        except OSError as e:  # noqa: BLE001 — diagnostics only
            print(f"WARN bench: host fingerprint failed: {e}", file=sys.stderr)
        return rec

    for i, name in enumerate(names):
        if budget.remaining() < 2 * RESERVE:
            # Not enough clock left even for one untimed run + finalize:
            # drop the tail explicitly rather than overrun (tier-1 rows
            # ran first, so the record still carries the headline rows).
            truncated_after = names[i - 1] if i else None
            print(
                f"WARN bench: budget exhausted — truncating after "
                f"{truncated_after} ({len(names) - i} queries dropped)",
                file=sys.stderr,
            )
            break
        # Untimed first run at target scale (absorbs listing/AQE/codegen);
        # doubles as the per-run cost estimate for fair-share repeats.
        # Every run starts from an empty cache: the cohort pipeline's
        # persisted models would otherwise turn repeats into model hits,
        # not the full query BASELINE's recomputing loops time.
        spark.catalog.clearCache()
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt_warm = time.time() - t0
        if budget.remaining() < RESERVE:
            # The untimed run itself consumed the margin — record it as a
            # COLD cell (upper bound, not steady-state) and move on.
            timings[name] = round(dt_warm, 4)
            medians[name] = round(dt_warm, 4)
            repeats_used[name] = 0
            cold_cells.append(name)
            _flush(out_path, _snapshot(partial=True))
            continue
        # Flagship cells get a deeper repeat pool (9 at the default cap
        # of 5): the BASELINE 2× bar is evaluated on flagship_median, and
        # a median-of-9 tolerates 4 storm-hit runs where median-of-5
        # tolerates 2 (verdict r13 #8 — the r13 driver median 1.945 s was
        # ~1 storm from the bar while quiet floors sat at 1.38–1.59 s).
        # Methodology is unchanged — same noop-sink timed runs, canary
        # gating and tripwire; only N grows, and repeats_used records it.
        # ~6 s extra for two short cells; _choose_repeats' fair share
        # still degrades them first under a tight budget.
        cap = 2 * repeats_cap - 1 if name in FLAGSHIP_CELLS else repeats_cap
        repeats = _choose_repeats(
            budget.remaining() - RESERVE, len(names) - i, dt_warm, cap
        )
        # Noise retries (up to 3× the repeat count) only while the budget
        # is comfortable — on a tight clock a burst-bracketed run is kept
        # (and flagged noisy) rather than retried into a timeout.
        retry_mult = (
            3
            if not gate.budget_exhausted()
            and budget.remaining() > min(0.4 * budget.total, 3600.0)
            else 1
        )
        # Parallel-load canary BRACKET (verdict r12 #2): one reading
        # before the timed block and one after (~0.3 s/cell quiet); a
        # window is flagged when either side exceeds ratio × floor. The
        # r12 driver run had ~10 steal-inflated cells and the trailing
        # single reading caught 1.
        mp_pre = mp_canary.read_ms()
        # Canary-SANDWICHED runs (r10): every timed run is bracketed by
        # a canary reading; a run whose bracket saw a hypervisor noise
        # burst is DISCARDED and retried (bounded attempts), so bursts
        # that span several seconds cannot poison best-of-N the way a
        # single whole-block redo still could. Guest counters cannot see
        # this noise; the canary is the only witness — see _canary_ms.
        clean: list[float] = []
        dirty: list[float] = []
        attempts = 0
        while (
            len(clean) < repeats
            and attempts < repeats * retry_mult
            and budget.remaining() > RESERVE
        ):
            attempts += 1
            pre_quiet = gate.wait_quiet()
            spark.catalog.clearCache()
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            if pre_quiet and gate._quiet():
                clean.append(dt)
            else:
                dirty.append(dt)
        runs = clean if clean else dirty
        if not runs:
            # Budget dipped under RESERVE between the cold-cell check and
            # the first attempt (ADVICE r12: this used to IndexError and
            # kill the finalize) — record the untimed run as a cold cell.
            timings[name] = round(dt_warm, 4)
            medians[name] = round(dt_warm, 4)
            repeats_used[name] = 0
            cold_cells.append(name)
            _flush(out_path, _snapshot(partial=True))
            continue
        if len(clean) < repeats:
            gate.noisy_queries.append(name)
        if dirty:
            gate.redone_queries.append(name)
        runs.sort()
        best = runs[0]
        med = runs[len(runs) // 2]
        mp_canary.check_bracket(name, mp_pre)
        # Per-cell steal tripwire: median > trip_ratio × promoted floor
        # (same code lineage — additive steal can only inflate) buys ONE
        # gated re-measure; see the doctrine comment at trip_ratio.
        floor = floors.get(name)
        if (
            floor is not None
            and floor > 0
            and med > trip_ratio * floor
            and budget.remaining() > RESERVE
        ):
            gate.wait_quiet()
            rt_pre = mp_canary.read_ms()
            spark.catalog.clearCache()
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            mp_canary.check_bracket(f"{name}:retime", rt_pre)
            if dt <= trip_ratio * floor:
                retimed_cells[name] = {
                    "was_median": round(med, 4),
                    "retimed": round(dt, 4),
                    "floor": floor,
                }
                best = min(best, dt)
                med = dt
            else:
                suspect_weather.append(name)
        timings[name] = round(best, 4)
        # median alongside best-of-N so host noise is diagnosable from the
        # artifact itself (r4's 27/31 uniform inflation needed a diff to
        # rule out a code regression; median/best spread shows it directly)
        medians[name] = round(med, 4)
        repeats_used[name] = len(runs)
        try:
            mid_load_max = max(mid_load_max, os.getloadavg()[0])
        except OSError:
            pass
        # Incremental flush (verdict r11 #2): every query's result is
        # durable the moment it exists.
        _flush(out_path, _snapshot(partial=True))

    # Headline loop done — the record is now complete (partial=false);
    # probe sections are appended afterwards and never change these rows.
    out = _snapshot(partial=False)
    total = out["value"]
    _flush(out_path, out)

    # Probe sections below are all charged against the same budget: each
    # needs headroom beyond the finalize reserve or it is skipped with an
    # explicit reason (a skipped probe must be distinguishable from a
    # crashed one). Driver runs under the default 900 s budget will
    # typically skip the heavy probes — their evidence lives in the
    # committed builder-side records.
    skipped_probes: dict[str, str] = {}

    # Candidate-volume instrumentation for the LSH rows (verdict r3 #4):
    # shows whether blocking blocks — the recall-regime row verifies a
    # large fraction of all pairs by design; the prod-regime row must
    # show candidates ≪ all-pairs.
    lsh_stats = {}
    if budget.remaining() > RESERVE + 60:
        try:
            from datamodel_clinicaldata_spark.queries_similarity import (
                lsh_candidate_stats,
            )

            for name in ("similarity_neardup_lsh", "similarity_neardup_lsh_prod"):
                if name in names:
                    lsh_stats[name] = lsh_candidate_stats(spark, sf_dir, name)
        except Exception as e:  # noqa: BLE001 — must not fail the bench, but a
            # missing lsh_candidates block has to be distinguishable from an
            # intentionally skipped one (the prod row's evidence lives there)
            print(f"WARN bench: lsh_candidate_stats failed: {e}", file=sys.stderr)
    else:
        skipped_probes["lsh_candidates"] = "budget"

    # Distributed global-ordering stress (verdict r5 #2 follow-through):
    # ordered_prefix rank + running sum over 4M synthetic rows — far past
    # anything a single-partition window should see — with an exactness
    # probe (last rank == n, total == closed form). Shows the two-phase
    # prefix holds throughput at row counts where the old global window
    # was the bottleneck.
    prefix_stats = {}
    if budget.remaining() <= RESERVE + 120:
        skipped_probes["prefix_stress"] = "budget"
    else:
        try:
            from pyspark.sql import functions as SF

            from datamodel_clinicaldata_spark.operators.ranking import (
                ordered_prefix,
            )

            n_rows = 4_000_000
            base = spark.range(n_rows).select(
                SF.col("id"),
                ((SF.col("id") * 2654435761) % 1_000_003).alias("v"),
            )
            t0 = time.time()
            pref = ordered_prefix(
                base,
                [SF.col("v").asc(), SF.col("id").asc()],
                rank_col="rk",
                running_sum={"v": "cs"},
            )
            probe = pref.agg(
                SF.max("rk").alias("max_rk"), SF.max("cs").alias("total")
            ).collect()[0]
            dt = time.time() - t0
            expected_total = base.agg(SF.sum("v")).collect()[0][0]
            prefix_stats = {
                "rows": n_rows,
                "sec": round(dt, 4),
                "rows_per_sec": int(n_rows / dt),
                "rank_exact": bool(probe["max_rk"] == n_rows),
                "sum_exact": bool(probe["total"] == expected_total),
            }
        except Exception as e:  # noqa: BLE001
            print(f"WARN bench: prefix stress failed: {e}", file=sys.stderr)

    # ≥50M-row scale probe (verdict r6 #3): the synthetic DataSource
    # generates the input, so the distributed primitives (two-phase
    # prefix, sweep line, binned interval join) get measured 80× past
    # sf0.1 with zero fixtures. Runs AFTER the query timings so its cache
    # pressure can't pollute them; skip with SPARK_GRAFT_SCALE_PROBE=0.
    scale_stats = {}
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") == "0":
        pass
    elif budget.remaining() <= RESERVE + 600:
        # The 50M-row probe alone runs for minutes — it never fits a
        # driver-budget run; its evidence lives in the committed
        # builder-side records (scale_probe_100m_r10.txt, bench_run_*).
        skipped_probes["scale_probe"] = "budget"
    else:
        try:
            sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
            from scale_probe import run_probes

            scale_stats = run_probes(
                spark, int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "50000000"))
            )
        except Exception as e:  # noqa: BLE001
            print(f"WARN bench: scale probe failed: {e}", file=sys.stderr)

    # Star-contraction CC on an adversarial 100k-node path graph
    # (diameter ≈ n): measured round count backing the O(log² d) claim.
    cc_stats = {}
    if budget.remaining() <= RESERVE + 150:
        skipped_probes["cc_rounds"] = "budget"
    else:
        try:
            from datamodel_clinicaldata_spark.queries_dedup import cc_round_stats

            cc_stats = cc_round_stats(spark)
        except Exception as e:  # noqa: BLE001
            print(f"WARN bench: cc_round_stats failed: {e}", file=sys.stderr)

    # Post-probe augmentation of the flushed artifact: probe sections and
    # the post-probe loadavg are appended; headline numbers are untouched.
    # (Host fingerprint doctrine, r6→r7 lesson: a +21.5% "regression" took
    # a full round to attribute to host noise because the artifact carried
    # no environment evidence; load1 ≫ 0 at start → distrust deltas.)
    try:
        la0, la1, la2 = os.getloadavg()
        out.setdefault("host", {})["loadavg_at_end"] = [
            round(la0, 2),
            round(la1, 2),
            round(la2, 2),
        ]
    except OSError:
        pass
    if lsh_stats:
        out["lsh_candidates"] = lsh_stats
    if cc_stats:
        out["cc_rounds"] = cc_stats
    if prefix_stats:
        out["prefix_stress"] = prefix_stats
    if scale_stats:
        out["scale_probe"] = scale_stats
    if skipped_probes:
        out["budget"]["skipped_probes"] = skipped_probes

    # Per-query deltas vs the promoted baseline (verdict r5 #6). The
    # baseline holds per-cell MIN-of-N floors (r11 promotion policy), so
    # this compares the current run's MEDIAN against a floor: deltas are
    # systematically ≥0 even at perfect parity (ADVICE r11) — read them
    # as distance-above-floor, not as regressions. The semantics note
    # travels in the artifact so no reader has to know this by heart.
    # (floors were loaded up front; they also drove the steal tripwire.)
    if floors:
        out["vs_prev"] = {
            n: round(medians[n] - floors[n], 4) for n in medians if n in floors
        }
        out["vs_prev_semantics"] = (
            "current-run median minus promoted per-cell min-of-N floor; "
            "systematically >= 0 at parity"
        )

    # Full artifact on disk — the driver captures stdout's tail, which
    # progress bars have truncated before (r4's medians were lost); the
    # file is the canonical machine-readable record (headline section
    # identical to the pre-probe flush above; probe sections appended).
    _flush(out_path, out)

    # Stop Spark BEFORE printing: executor/progress stderr has flooded the
    # driver's tail capture three rounds running (BENCH_r04/r05/r06 all
    # recorded `parsed: null` from a mid-JSON truncation). With the JVM
    # down, nothing can interleave after these lines.
    mp_canary.close()
    spark.stop()
    print(json.dumps(out))
    # Compact ~1 KB summary as the VERY last stdout line (verdict r6 #6):
    # keeps the driver-required keys (metric/value/unit/queries/sf) while
    # dropping the bulky diagnostics so even a short tail capture parses.
    # r7 post-mortem: the "compact" line still carried the full 59-entry
    # per-query dict (~2.4 KB) and the driver's tail window truncated its
    # HEAD for the fourth round running.  The final line must be genuinely
    # Full per-query medians live in bench_out.json; the printed line
    # packs as many as fit the driver's tail capture (slowest first,
    # previous round's names force-kept — see _compact_line). An
    # assertion guards the budget so a future edit cannot silently
    # regrow the line past the capture window.
    flagship = medians.get("clinical_cohort_week")
    line = _compact_line(
        medians,
        {
            "value": round(total, 2),
            "unit": "sec",
            "sf": out["sf"],
            "flagship_median": round(flagship, 3)
            if flagship is not None
            else None,
            "n_queries": len(timings),
            # Weather accounting in the PARSED line (verdict r12 #1): a
            # reader comparing `value` across rounds sees, without opening
            # bench_out.json, which cells are steal-suspect (suspect_qi,
            # indices into the queries key order) and the clean fixed-set
            # tier-1 subtotal.
            "tier1_total_clean": out["tier1_total_clean"],
            "tier1_clean_n": out["tier1_clean_n"],
            "suspect_weather_n": len(suspect_weather),
            "retimed_n": len(retimed_cells),
            "cold_n": len(cold_cells),
            "elapsed_sec": round(budget.elapsed(), 1),
            "truncated_after": truncated_after,
            "full_record": "bench_out.json",
        },
        suspect_weather,
        retimed_cells,
        keep=_prev_printed_names(),
    )
    assert len(line) <= COMPACT_LINE_LIMIT, (
        f"compact bench line too long: {len(line)}B"
    )
    print(line, flush=True)


if __name__ == "__main__":
    main()

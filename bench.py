"""Benchmark harness (BASELINE.md protocol): one warm SparkSession,
each headline query timed median-of-3 after one warm-up run, at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>, ...,
   "queries_cpu_sec": {name: sec, ...},   # JVM-tree CPU medians (v3.2)
   "summary": {...}}                       # ALWAYS the last key: survives
                                           # the driver's head-truncating
                                           # tail capture (VERDICT r10)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# representative spread: scan+agg, shuffle join, broadcast join, window
# top-k, CTE/subquery, streaming batch-equivalents, vector similarity,
# boosting stump search (the reference's hot loop), UDF path.
#
# HEADLINE is FROZEN at the round-1 set so "value" stays comparable round
# over round (and against the driver's recorded BASELINE total, which was
# taken under this exact 17-query protocol). New flagships go in SHOWCASE:
# timed under the same protocol, reported separately, never summed into
# "value" — growing coverage must not mechanically inflate the headline.
# The list itself is defined once, in perfbench/workloads.py, whose
# query_mix workload runs the same 17 queries.
sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench"))
from workloads import HEADLINE  # noqa: E402

# round-2+ flagships, timed but reported outside the comparable total
SHOWCASE = [
    "q_d5_contamination",
    "q_d2_removal_rate",
    "q_a5_sparse_stump_z",
    # q_d3_ivf_ann_arrow was timed here through r5; since the r5 headline
    # swap it is the SAME implementation as q_d3_ivf_ann (ADVICE r5) —
    # the declarative twin is timed instead so both plans stay measured
    "q_d3_ivf_ann_catalyst",
    "q_d4_sequence_pack",
    "q_ext_gapfill_locf",
    # round-4 flagships: PQ/IVF-PQ ANN + the Arrow SemDeDup twin
    "q_d3_pq_adc_topk",
    "q_d3_ivfpq_topk",
    "q_d2_semantic_dedup_arrow",
    # round-5 flagships: lexical retrieval + curation additions
    "q_d3_bm25_topk",
    "q_d2_segment_dedup",
    "q_d5_bigram_lm_ppl",
    "q_d4_length_batching",
    # round-5 tuning gauges (sweeps/curves — heavier by design)
    "q_d3_ivf_nprobe_sweep",
    "q_d2_lsh_band_sweep",
    "q_ext_hilbert_layout",
    # round-6 flagships: iterative graph + weighted sampling + Q21 shape
    "q_ext_pagerank",
    "q_d5_priority_sample",
    "q_comp_waiting_orders",
    "q_d4_bpe_train",
    # round-8 flagships: curation gates + hybrid retrieval + diversity
    "q_d5_gopher_rules",
    "q_d5_curation_funnel",
    "q_d4_token_entropy",
    "q_d3_rrf_fusion",
    "q_d3_mmr_rerank",
    "q_d5_centroid_outlier",
    "q_d5_trigram_backoff_ppl",
    # round-9 flagships: LM pruning + mix allocation + HNSW descent
    "q_d5_pruned_trigram_lm",
    "q_d5_ppl_buckets",
    "q_d4_zipf_slope",
    "q_d4_tokenizer_fertility",
    "q_d3_hnsw_descent",
    # round-10 flagships: trained-model scoring twin, multi-layer HNSW,
    # IVF maintenance churn, incremental dedup
    "q_d7_estimator_scored",
    "q_d3_hnsw_multilayer",
    "q_d3_ivf_reassign_churn",
    "q_d2_incremental_lsh",
    # round-11 flagships: true multi-label training (replay-oracle-checked),
    # the graph-ANN beam-width tuning curve, incremental index maintenance
    "q_d7_estimator_multilabel",
    "q_d3_beam_width_sweep",
    "q_d3_graph_insert",
    "q_d3_graph_delete",
    "q_d3_graph_pq_search",
    "q_d5_budget_sample",
    "q_d3_pq_refresh_churn",
    # round-12 flagship: the adaptive-beam early-termination gauge (the
    # streaming budget twin q_c20 is deliberately NOT benched — no group-C
    # query is: availableNow stream startup would dominate its timing)
    "q_d3_adaptive_beam",
    # round-13 flagship: hash-sampled training with an exact replay oracle
    # (the A12 upgrade — same 2-round/4-feature scope as the D7 twins)
    "q_a12_train_hash_sampled",
]


# implementation tags for queries whose BODY was ever swapped while the
# NAME stayed in the frozen headline (ADVICE r5: make cross-round
# comparisons mechanically detect impl changes).  Absent name = impl
# unchanged since round 1.
IMPL_TAGS = {
    "q_d3_ivf_ann": "arrow-mapinpandas (since r5; catalyst broadcast-probe "
    "join through r4, kept registered as q_d3_ivf_ann_catalyst)",
}

# Baseline re-anchor (VERDICT r5 item 3): rounds 1-4 sampled back-to-back
# (v2 family); round 5+ interleaves passes (v3).  tools/bench_protocols.py
# measured BOTH protocols in one session (blocks alternated v2,v3,v2,v3):
# the restated baseline below is r1's 6.715 s scaled by the measured
# median v3/v2 ratio of that session.  The frozen protocol from round 6
# on is v3; ratios must be computed against RESTATED_BASELINE_V3_SEC.
R1_BASELINE_SEC = 6.715
# round-6 re-anchor session (quiet host: numpy probe 0.009 and shuffle
# probe 0.31-0.37 across all 5 checkpoints): v2 totals [6.6342, 6.7553]
# — i.e. 0.99-1.01x the r1 baseline, proving the r5 "1.55x regression"
# was protocol, not code — v3 totals [8.768, 9.3024], median ratio 1.3496.
# Computed (not hand-copied) so the anchor is mechanically reproducible
# from its stated inputs (ADVICE r6): 6.715 * 1.3496 = 9.0626 to 4dp.
MEASURED_V3_OVER_V2_RATIO = 1.3496
RESTATED_BASELINE_V3_SEC = round(R1_BASELINE_SEC * MEASURED_V3_OVER_V2_RATIO, 4)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    from spark_multiboost_spark.registry import queries
    from spark_multiboost_spark.session import get_spark, warm_cache

    spark = get_spark("smb-bench")
    warm_cache(spark, SF_DIR)  # hot-warehouse tier: parallel + in-memory
    qs = queries()

    # Host-speed calibration: fixed, data-independent workloads so the
    # headline total can be compared across rounds even when the driver's
    # VM changes (round 3 ran 2.6x slow under contention; round 4's host
    # benches ~30% slower than rounds 1-2 on identical code).  numpy
    # matmul ≈ raw CPU+BLAS; the fixed Spark job ≈ JVM shuffle+scheduler
    # path.  Ratio-normalize totals across rounds with these.
    import numpy as _np

    _a = _np.random.default_rng(0).random((1500, 1500))
    _rng = spark.range(0, 5_000_000, 1, 32)

    def _calibrate() -> dict[str, float]:
        _cal_np = []
        for _ in range(3):
            _t = time.perf_counter()
            _a @ _a
            _cal_np.append(time.perf_counter() - _t)
        _cal_sp = []
        for _ in range(3):
            _t = time.perf_counter()
            _rng.groupBy((_rng.id % 1024).alias("k")).count().write.format(
                "noop"
            ).mode("overwrite").save()
            _cal_sp.append(time.perf_counter() - _t)
        return {
            "numpy_matmul_1500_sec": round(statistics.median(_cal_np), 4),
            "spark_shuffle_5m_sec": round(statistics.median(_cal_sp), 4),
        }

    # Probe gate (VERDICT r8 item 6): refuse to time on a degraded host
    # phase — the shared VM oscillates in multi-minute slow phases that
    # inflated r8's committed ratios 1.24x on identical code.  Band =
    # ~1.5x the r7/r8 probe-matched values (numpy ≈0.055 s, shuffle
    # ≈0.36 s); out-of-band -> wait and re-probe, up to PROBE_ATTEMPTS.
    # If the host never settles, proceed anyway but stamp the artifact
    # host_degraded so no one compares its ratios across rounds.
    # Bands + attempts are env-overridable (ADVICE r9): the defaults are
    # THIS VM's calibration — on any other host set the envs (or attempts=1
    # to skip the retry sleeps) instead of inheriting a gate that fails by
    # construction and burns minutes of retries.
    PROBE_BAND = {
        "numpy_matmul_1500_sec": float(
            os.environ.get("SPARK_GRAFT_PROBE_NUMPY_BAND", "0.0825")
        ),
        "spark_shuffle_5m_sec": float(
            os.environ.get("SPARK_GRAFT_PROBE_SHUFFLE_BAND", "0.54")
        ),
    }
    PROBE_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_PROBE_ATTEMPTS", "6"))
    attempts = []
    for _try in range(PROBE_ATTEMPTS):
        calibration = _calibrate()
        attempts.append(calibration)
        if all(calibration[k] <= v for k, v in PROBE_BAND.items()):
            break
        if _try < PROBE_ATTEMPTS - 1:
            time.sleep(60)
    probe_gate = {
        "band": PROBE_BAND,
        "attempts": attempts,
        "in_band": all(calibration[k] <= v for k, v in PROBE_BAND.items()),
    }

    def _pass_probe() -> dict[str, float]:
        # single-shot probe STAMP (not a gate): one matmul + one fixed
        # shuffle job, recorded per timed pass so cross-round comparisons
        # of individual queries are attributable to host weather (VERDICT
        # r9: extras drifted 15-45% on an "in-band" host because the gate
        # probes ran before timing, not during).
        # NOTE: in-run stamps have a WARM-JVM baseline distinct from the
        # gate's cold probes — the session holds the warm-cache tables, so
        # the shuffle stamp reads ~0.6 s even on a host whose gate probe
        # read 0.33 (measured r10).  Compare pass stamps against OTHER
        # ROUNDS' pass stamps, never against the gate band.
        t = time.perf_counter()
        _a @ _a
        np_s = time.perf_counter() - t
        t = time.perf_counter()
        _rng.groupBy((_rng.id % 1024).alias("k")).count().write.format(
            "noop"
        ).mode("overwrite").save()
        sp_s = time.perf_counter() - t
        return {
            "numpy_matmul_1500_sec": round(np_s, 4),
            "spark_shuffle_5m_sec": round(sp_s, 4),
        }

    pass_probes: list[dict] = []

    # Per-query EXECUTOR CPU TIME alongside wall time (VERDICT r10 item 3):
    # wall clock on this shared VM carries the host's multi-minute slow
    # phases (the r10 session's elevated-shuffle state was attributable via
    # pass_probes but not normalizable); CPU time barely moves under
    # co-tenant contention, so cpu medians make cross-round per-query
    # comparisons host-independent.  In local mode ALL executor work runs
    # in the driver JVM, so utime+stime of the gateway JVM's process TREE
    # (the JVM plus its pyspark.daemon python workers — the Pandas-UDF
    # path) read from /proc is the full per-query compute.  ~ms overhead
    # per sample.
    _CLK = os.sysconf("SC_CLK_TCK")

    def _stat_fields(pid: int) -> list[str]:
        with open(f"/proc/{pid}/stat") as f:
            # comm can contain spaces/parens: split after the LAST ')'
            return f.read().rsplit(")", 1)[1].split()

    def _cpu_tree_sec(root: int) -> float:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    f = _stat_fields(int(p))
                    children.setdefault(int(f[1]), []).append(int(p))
                except (OSError, IndexError, ValueError):
                    pass  # process exited mid-scan
        total, stack = 0.0, [root]
        while stack:
            pid = stack.pop()
            try:
                f = _stat_fields(pid)
                total += (int(f[11]) + int(f[12])) / _CLK
            except (OSError, IndexError, ValueError):
                continue
            stack.extend(children.get(pid, []))
        return total

    try:
        _jvm_pid: int | None = spark.sparkContext._gateway.proc.pid
        _cpu_tree_sec(_jvm_pid)  # probe once; disable cleanly if /proc odd
    except Exception:
        _jvm_pid = None

    cpu_medians: dict[str, float] = {}

    def time_set(names: list[str], label: str) -> dict[str, float]:
        # INTERLEAVED passes (protocol global-v3): one warm-up pass, then 3
        # timed passes over the WHOLE set, median per query ACROSS passes.
        # Back-to-back per-query sampling (v2) put all 3 of a query's
        # samples inside the same instant of host weather; this shared VM
        # has multi-minute slow phases (calibration probes swing 4x between
        # runs — SCALING.md 8f), which could triple-tax one query and blow
        # the headline total.  Spreading samples across the full bench
        # window makes the per-query median robust to any phase shorter
        # than a pass.
        from spark_multiboost_spark import plans

        runs: dict[str, list[float]] = {n: [] for n in names}
        cpu_runs: dict[str, list[float]] = {n: [] for n in names}
        for p in range(4):  # pass 0 = warm-up, discarded
            if p > 0:
                pass_probes.append({"set": label, "pass": p, **_pass_probe()})
            for name in names:
                fn = qs[name]
                c0 = _cpu_tree_sec(_jvm_pid) if _jvm_pid else 0.0
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                # noop sink: full execution incl. every output column
                # (count() would let Catalyst prune work the query claims
                # to do)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                if p > 0:
                    runs[name].append(dt)
                    if _jvm_pid:
                        cpu_runs[name].append(_cpu_tree_sec(_jvm_pid) - c0)
            # belt-and-suspenders cache hygiene between passes: finalizers
            # normally fire when each result df drops, but any retained
            # reference would silently leak persist() blocks into later
            # passes' measurements (ADVICE r5)
            plans.release_outstanding()
        if _jvm_pid:
            cpu_medians.update(
                (n, round(statistics.median(v), 4)) for n, v in cpu_runs.items() if v
            )
        return {n: round(statistics.median(v), 4) for n, v in runs.items()}

    # Deterministic graph-INDEX prebuild (VERDICT r9 item 2c): the graph
    # family shares session-cached NN-descent indexes; whichever query ran
    # first paid the 8-round build, so its recorded time was cache-order-
    # dependent across rounds.  Build the indexes in a FIXED order before
    # any warm/timed execution and stamp the cost separately — every timed
    # graph query then measures warm search, every round.
    GRAPH_PREBUILD = [
        "q_d3_hnsw_descent",  # base-layer full-corpus graph (shared)
        "q_d3_hnsw_multilayer",  # + mod-stride upper layers
        "q_d3_graph_insert",  # + the base90-split graph
    ]
    _t0 = time.perf_counter()
    for _name in GRAPH_PREBUILD:
        qs[_name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    graph_prebuild_sec = round(time.perf_counter() - _t0, 4)

    # Global warm pass: one untimed execution of every query BEFORE any
    # timing starts.  The per-query warm-up below only warms that query's
    # own plan; JIT compilation of shared codegen/shuffle paths otherwise
    # accrues across the run, taxing whichever queries happen to be listed
    # first (measured: back-to-back identical configs differ ~15% purely
    # by position).  "Warm session" is the protocol's stated condition —
    # this makes it true for query #1, not just query #17.
    for _name in HEADLINE + SHOWCASE:
        qs[_name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    timings = time_set(HEADLINE, "headline")
    extra = time_set(SHOWCASE, "showcase")
    total = round(sum(timings.values()), 4)
    # KEY ORDER matters downstream (VERDICT r9 item 2b): the driver's
    # capture keeps the TAIL of long output lines — BENCH_r09 lost the 17
    # headline timings to head truncation because "queries" came first.
    # The headline per-query map therefore goes LAST, after the larger
    # extras map, so whatever survives truncation includes the numbers the
    # cross-round comparison actually needs.
    print(
        json.dumps(
            {
                "metric": (
                    f"headline_query_total_sec ({len(HEADLINE)} queries — "
                    "the frozen round-1 set, comparable across rounds; "
                    "median-of-3, warm session; extra_queries timed "
                    "identically, excluded from value)"
                ),
                "value": total,
                "unit": "sec",
                "calibration": calibration,
                "probe_gate": probe_gate,
                "host_degraded": not probe_gate["in_band"],
                # per-timed-pass probe stamps (VERDICT r9 item 2a): host
                # weather DURING timing, so cross-round drift on individual
                # queries is attributable without re-running
                "pass_probes": pass_probes,
                "graph_prebuild_sec": graph_prebuild_sec,
                "impl_tags": IMPL_TAGS,
                # protocol-correct comparison anchor (see RESTATED_* note)
                "r1_baseline_sec": R1_BASELINE_SEC,
                "restated_v3_baseline_sec": RESTATED_BASELINE_V3_SEC,
                "vs_restated_baseline": (
                    round(total / RESTATED_BASELINE_V3_SEC, 4)
                    if RESTATED_BASELINE_V3_SEC
                    else None
                ),
                # measurement-protocol version so cross-round comparisons can
                # detect protocol changes mechanically: v2 (round 4) added the
                # global warm pass; v3 (round 7) interleaves the timed passes
                # across the whole set so per-query medians are robust to the
                # host's multi-minute slow phases (see SCALING.md 8f);
                # v3.1 (round 10) adds the deterministic graph prebuild +
                # per-pass probe stamps — timing semantics of each query
                # unchanged except graph-family first-toucher build cost,
                # which now lands in graph_prebuild_sec by construction
                # v3.2 (round 11) additions: per-query JVM-tree CPU-time
                # medians (host-contention-robust twin of the wall medians;
                # same passes, same noop sink) and the truncation-proof
                # trailing summary
                "warm_protocol": "global-v3.2-interleaved",
                "sf": _sf_from_dir(SF_DIR),
                "queries_cpu_sec": cpu_medians,
                "extra_queries": extra,
                "queries": timings,
                # FINAL key (VERDICT r10 item 3): the driver's tail capture
                # truncates the FRONT of long lines — BENCH_r10 kept its
                # ratio only because the key order had been reversed.  A
                # compact summary as the very last key survives ANY
                # truncation point that keeps the line's tail.
                "summary": {
                    "total_sec": total,
                    "vs_restated_baseline": (
                        round(total / RESTATED_BASELINE_V3_SEC, 4)
                        if RESTATED_BASELINE_V3_SEC
                        else None
                    ),
                    "in_band": probe_gate["in_band"],
                    "graph_prebuild_sec": graph_prebuild_sec,
                    "n_headline": len(HEADLINE),
                    "cpu_total_sec": (
                        round(sum(cpu_medians.get(n, 0.0) for n in HEADLINE), 4)
                        if cpu_medians
                        else None
                    ),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""Benchmark runner: every oracle-bearing registry query, in registry order,
at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"<name>": <sec>, ...}, "sf": <sf>}

Each query is materialized via the noop sink (full execution, no driver
collect cost). A small warmup query amortizes JVM/codegen startup so the
numbers reflect steady-state engine throughput.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries
from real_time_scraping_and_predicting_time_series_data_spark.session import (
    get_spark,
    release_persisted_rdds,
)

# Per-query repetitions: single runs at ~1-second magnitudes smear with
# environment noise (r3's uniform +9% drift); the median of N runs makes
# real regressions stand out. First run of each query additionally absorbs
# its plan compilation.
RUNS = 3
# A query takes RUNS_MAX samples instead of RUNS when its warm samples
# (every sample after the first, which also compiles the plan) spread
# max/min by more than SPREAD_RATIO: that is where a median of three moves
# most.  Judged on the first sample too, a spread or a "slow" threshold
# fires on nearly every query (391 of 424 in bench_runs_r13.json).
RUNS_MAX = 5
SPREAD_RATIO = 1.3

# Per-run sample artifacts live under bench_runs/ (ADVICE r10: 29 one-line
# scratch files at the repo root cluttered the top level); only the
# consolidated BENCH_rNN.json written by the driver stays at the root.
RUNS_DIR = "bench_runs"

# Load guard (r9, VERDICT r8 item 1): the r8 driver-stamped bench was
# environment-contaminated — untouched queries drifted up to 5x between
# runs taken hours apart on an otherwise identical tree.  A fixed cheap
# calibration query runs first (3x, median = this run's reference) and
# again every CAL_EVERY queries; a check whose median departs >CAL_RATIO
# from the reference marks the surrounding segment's queries as
# "load_flagged" in the samples file, so SCALE.md's trend lines can
# exclude contaminated segments MECHANICALLY instead of by post-hoc
# spread arguments.
CALIBRATION = "scalar_string_fns"
CAL_EVERY = 50
CAL_RATIO = 1.3
# Ratio alone over-flags: the calibration query is ~0.17 s warm, where
# GC jitter alone moves the median ±0.15 s (the r9 anchor run's final
# check read 1.9x on a 0.16 s delta with nothing else running).  Real
# machine load (the r8 contamination was 3-5x on multi-second queries)
# moves it by whole multiples AND by absolute seconds, so a check flags
# only when BOTH the ratio and an absolute floor trip.
CAL_MIN_DELTA = 0.3


def bench_names(qs: dict) -> list[str]:
    """The benched list: every oracle-bearing query, in registry order."""
    return [n for n, q in qs.items() if q.oracle is not None]


def _wants_more_samples(samples: list[float]) -> bool:
    warm = samples[1:]
    return max(warm) > SPREAD_RATIO * min(warm)


def _run_once(qs, name: str, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    qs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _calibrate(qs, spark, sf_dir: str, warm: int = 0) -> float:
    """Median of 3 runs; ``warm`` extra runs are taken FIRST and discarded
    (the initial reference must not absorb JVM/codegen cold-start — the
    r9 anchor run's first-median was 11x its steady state)."""
    for _ in range(warm):
        _run_once(qs, CALIBRATION, spark, sf_dir)
    samples = sorted(_run_once(qs, CALIBRATION, spark, sf_dir) for _ in range(3))
    return samples[1]


def _cal_flagged(median: float, ref: float) -> bool:
    return median > ref * CAL_RATIO and median - ref > CAL_MIN_DELTA


def main() -> int:
    started = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = all_queries()
    names = bench_names(qs)
    # Isolated re-measure mode (not used by the driver, which passes no
    # argv): `python bench.py name...` scopes the run to those queries —
    # the mechanism for BASELINE.md's "re-measure outliers in isolation".
    if len(sys.argv) > 1:
        requested = [n for n in sys.argv[1:] if n in qs]
        missing = [n for n in sys.argv[1:] if n not in qs]
        if missing:
            print(f"unknown queries: {missing}", file=sys.stderr)
            return 2
        names = requested

    # Warmup: JVM + codegen + parquet footer reads, not counted.
    qs[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    cal_ref = _calibrate(qs, spark, sf_dir, warm=2)
    cal_checks = [{"at": 0, "median": cal_ref, "ratio": 1.0, "flagged": False}]

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for qi, name in enumerate(names):
        if qi and qi % CAL_EVERY == 0:
            cm = _calibrate(qs, spark, sf_dir)
            ratio = round(cm / cal_ref, 3) if cal_ref > 0 else None
            cal_checks.append(
                {
                    "at": qi,
                    "median": cm,
                    "ratio": ratio,
                    "flagged": _cal_flagged(cm, cal_ref),
                }
            )
        # Spark's ContextCleaner reclaims accumulated broadcasts/shuffle
        # files only after JVM GC notices the weak refs; across a 160+
        # query session that lag inflated mid-run queries ~2x (r7:
        # dedup_embedding_cosine 11.6 s in-bench vs 5.9 s isolated, back
        # to 6.3 s with this).  r12: the every-10 nudge left Arrow-stage
        # queries hostage to WHERE in the 10-window they run —
        # embedding_knn_probe sampled [11.4, 14.1, 10.0, 1.58, 6.0] when
        # 16 heavy ANN serves preceded it (the r11 "bimodality": a full
        # GC landing mid-samples), vs [1.9, 1.2, ...] in the clean
        # anchor.  The nudge sits HERE — after the calibration block,
        # immediately before the sample loop — so every query's samples
        # (including the first query's, and the CAL_EVERY-th queries',
        # whose calibration run would otherwise wedge between nudge and
        # samples) start debris-isolated (~0.1 s/query, uniform, dwarfed
        # by the 3-5 samples).
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        # Queries that localCheckpoint model/edge relations (IVF, PageRank,
        # MinHash signatures, triangles) leave persistent RDDs behind; 3
        # runs x N queries of leakage degrades LATER queries' timings (r4:
        # embedding_pq_codebook ran 1.1s cold but 7-11s after pagerank's
        # accumulated checkpoints). A real pipeline unpersists after use.
        # r13 measurement fix (disclosed in OPTIMIZATION_r13.md): the
        # unpersist now runs between SAMPLES, not just between queries —
        # the checkpoint-heavy queries' own debris piled up WITHIN their
        # 3/5-sample loop (graph_copurchase_pagerank sampled
        # [6.6, 3.7, 9.8, 22.9, 22.5] in a clean zero-flag full run:
        # monotone degradation from its own per-sample edge checkpoints,
        # ~100 MB each, freed only via ContextCleaner lag). Per-sample
        # isolation measures the query, not the harness debris, and
        # applies uniformly to every query.
        # r14: the sweep logic moved INTO the engine
        # (session.release_persisted_rdds — VERDICT r13 item 5: the engine,
        # not the harness, owns checkpoint hygiene); the harness calls the
        # same per-sample release it always did. Timing regions unchanged.
        def _unpersist_all() -> None:
            release_persisted_rdds(spark)

        samples = []
        for i in range(RUNS_MAX):
            if i == RUNS and not _wants_more_samples(samples):
                break
            samples.append(_run_once(qs, name, spark, sf_dir))
            _unpersist_all()
        runs[name] = samples
        timings[name] = sorted(samples)[len(samples) // 2]  # median

    # Final calibration check closes the last segment.
    cm = _calibrate(qs, spark, sf_dir)
    ratio = round(cm / cal_ref, 3) if cal_ref > 0 else None
    cal_checks.append(
        {
            "at": len(names),
            "median": cm,
            "ratio": ratio,
            "flagged": _cal_flagged(cm, cal_ref),
        }
    )
    # A segment [check_k, check_{k+1}) is contaminated if EITHER endpoint
    # check is flagged — its queries go into load_flagged.
    load_flagged: list[str] = []
    for k in range(len(cal_checks) - 1):
        if cal_checks[k]["flagged"] or cal_checks[k + 1]["flagged"]:
            load_flagged.extend(names[cal_checks[k]["at"] : cal_checks[k + 1]["at"]])

    total = round(sum(timings.values()), 3)
    # Per-sample detail goes to a local file, NOT stdout: round 4's stdout
    # line with "all_runs" (3 samples x 92 queries) exceeded the driver's
    # capture and BENCH_r04 recorded "parsed": null. The stdout contract is
    # ONE compact line: metric / value / per-query medians / sf.
    # r8: also emit each query's max/min spread so SCALE.md's "noise, not
    # regression" calls are mechanical (threshold in BASELINE.md), and copy
    # the samples to a start-time-stamped file nothing overwrites.
    spread = {
        n: round(max(v) / min(v), 3) if min(v) > 0 else None
        for n, v in runs.items()
    }
    payload = {
        "runs_per_query": RUNS,
        "runs_max": RUNS_MAX,
        "more_runs_rule": {"warm_spread_ratio": SPREAD_RATIO},
        "all_runs": runs,
        "spread": spread,
        "calibration": {
            "query": CALIBRATION,
            "reference": cal_ref,
            "ratio_threshold": CAL_RATIO,
            "min_delta": CAL_MIN_DELTA,
            "checks": cal_checks,
        },
        "load_flagged": sorted(set(load_flagged)),
        "sf": sf,
    }
    try:
        os.makedirs(RUNS_DIR, exist_ok=True)
        with open(os.path.join(RUNS_DIR, "bench_runs_local.json"), "w") as f:
            json.dump(payload, f)
    except OSError:
        pass
    # Start-time-stamped copies never clobber (r7 lesson: the driver's
    # post-session run overwrote the builder's final samples, orphaning the
    # number SCALE.md cites) — a name already taken gets the next suffix.
    try:
        k = 0
        while True:
            suffix = "" if k == 0 else f"_{k}"
            path = os.path.join(RUNS_DIR, f"bench_runs_{started}{suffix}.json")
            try:
                with open(path, "x") as f:
                    json.dump(payload, f)
                break
            except FileExistsError:
                k += 1
    except OSError:
        pass
    # compact separators: the per-query map is ~160 entries now and the
    # driver's stdout capture keeps only a ~2000-char TAIL of the line
    # (BENCH_r01–r06 all lost "value" to the head truncation). Key ORDER is
    # therefore load-bearing: the big "queries" map goes FIRST so the
    # headline metric/value/unit/sf land in the surviving tail.
    print(
        json.dumps(
            {
                "queries": timings,
                "metric": "headline_queries_total_median",
                "value": total,
                "unit": "sec",
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

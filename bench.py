"""Benchmark harness (driver contract; BASELINE.md protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], wall-clock per
query (result fully materialized via a count-collect), and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per operator family that dominates BASELINE.md,
# plus the training-data-pipeline ops (text/dedup/similarity)
HEADLINE = [
    "q1_groupby_agg",
    "join_inner",
    "join_left",
    "join_multi_star",
    "merge_asof_backward",
    "topk_orders",
    "dedup_keep_first",
    "window_cumsum",
    "rolling_time_mean",
    "resample_1h",
    "string_ops",
    "value_counts",
    "query_dialect",
    "pivot_sum",
    "melt_unpivot",
    "groupby_skew_kurt",
    "ewm_mean",
    "text_stats",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
]


def main() -> None:
    from pandas_spark import get_spark
    from pandas_spark import suite

    spark = get_spark("bench")
    qs = suite.queries()
    names = [n for n in HEADLINE if n in qs]
    # SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts the set (giant-scale
    # engine-only decades time a subset; the default set is the stable
    # BASELINE.md protocol)
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        chosen = [s.strip() for s in only.split(",")]
        names = [n for n in names if n in chosen] + [
            n for n in chosen if n in qs and n not in HEADLINE
        ]
    # Warmup (BASELINE.md protocol: 1 warmup before timed runs): one
    # untimed pass of every headline query AT THE TARGET SCALE. This
    # compiles the whole-stage-codegen classes, JIT-compiles the hot
    # loops, starts broadcast/shuffle machinery and the Arrow
    # python-worker pool — per-PROCESS costs that a long-lived cluster
    # amortizes away and that would otherwise be misattributed to
    # whichever timed run hits them first. (A warmup at a smaller sf
    # under-warms: the JVM's C2 compiler only optimizes the generated
    # code after real iteration counts, which tiny inputs never reach —
    # measured ~25% inflation on the first timed pass.)
    for name in names:
        try:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    # median of 3 timed runs per query (BASELINE.md protocol) — a single
    # run on a shared machine carries ±10% scheduler noise that would
    # otherwise masquerade as a regression between rounds
    # median of 5: this box shows ±35% run-to-run scheduler noise; a
    # 3-run median still lets one bad run shift the reported value
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        ts = []
        try:
            for _ in range(runs):
                t0 = time.time()
                df = qs[name](spark, SF_DIR)
                # noop sink materializes every column (count() would let
                # Catalyst prune the projections and under-report)
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.time() - t0)
        except Exception as e:  # one broken query must never zero the bench
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
            continue
        ts.sort()
        timings[name] = round(ts[len(ts) // 2], 3)

    sf_tag = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf_tag)
    except ValueError:  # non-numeric dir names (e.g. scratch sets)
        sf = sf_tag
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # EVERY run self-identifies its box state (round-7 verdict:
        # the driver's plain-protocol BENCH_r07 was a 45%-slow
        # contention artifact that only the committed --record could
        # rebut). Consumers normalize: suite seconds are comparable
        # across runs only at comparable box_calib_ms; a calib far
        # above the committed BENCH_HEAD's means "box was loaded",
        # not "code got slower".
        "box_calib_ms": _box_calibration_ms(),
    }
    # headline ratio vs the committed pandas reference (BASELINE_ref.json,
    # same box, same protocol): the 2x bar as a FIELD of the artifact
    # instead of a BASELINE.md hand-computation (round-8 verdict #7).
    # Computed over the intersection of query keys so a restricted
    # SPARK_GRAFT_BENCH_QUERIES run reports the ratio of what it ran.
    try:
        ref_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BASELINE_ref.json"
        )
        with open(ref_path) as f:
            ref_rec = json.load(f)
        ref = ref_rec["queries"]
        common = [n for n in timings if n in ref]
        if common:
            ours = sum(timings[n] for n in common)
            theirs = sum(ref[n] for n in common)
            out["headline_queries"] = len(common)
            out["headline_engine_sec"] = round(ours, 3)
            out["headline_pandas_sec"] = round(theirs, 3)
            out["headline_aggregate_ratio"] = round(ours / theirs, 2)
            # Calib-normalized ratio (round-9 verdict #1b): the raw
            # ratio divides THIS run's engine seconds by the ARCHIVED
            # pandas seconds, so box contention inflates only the
            # numerator — driver/judge/committed runs read
            # 2.48/2.68/2.09 on the SAME engine tree in round 9.
            # Normalize first-order: scale engine seconds by
            # ref_calib/run_calib (both sides expressed at the box
            # speed the pandas reference was measured under), THEN
            # divide. box_calib_ms is the fixed single-thread probe,
            # so the scale factor is code-independent.
            ref_calib = ref_rec.get("box_calib_ms")
            run_calib = out["box_calib_ms"]
            if ref_calib and run_calib:
                out["ref_box_calib_ms"] = ref_calib
                out["headline_aggregate_ratio_calib_normalized"] = round(
                    (ours * ref_calib / run_calib) / theirs, 2
                )
            # SAME-MOMENT ratio (round-9 verdict #1b; round-10 #1b/#4
            # extended to the FULL headline set): the single-thread
            # calib probe bounds but does not fully capture box state
            # for parallel work (measured: a calib-43 run normalized
            # BETTER than a calib-35 run of the same tree). So re-run
            # the pandas side of EVERY headline query IN-RUN (shared
            # bodies: tools/pandas_ref_queries.py, median of 3 after 1
            # warmup, ~5 s at sf0.1) — numerator and denominator then
            # share the exact box moment by construction and the ratio
            # needs NO archived denominator. Driver, judge, and
            # committed records agree by construction.
            try:
                probes = _pandas_probes(names)
                common_p = [k for k in probes if k in timings]
                if common_p:
                    p_sum = sum(probes[k] for k in common_p)
                    e_sum = sum(timings[k] for k in common_p)
                    out["pandas_same_moment"] = probes
                    out["headline_aggregate_ratio_same_moment"] = round(
                        e_sum / p_sum, 2
                    )
                    # per-query same-moment ratio table — BASELINE.md §6
                    # regenerates from THIS field (tools/regen_baseline.py)
                    out["queries_ratio_same_moment"] = {
                        k: round(timings[k] / probes[k], 2) for k in common_p
                    }
                    # archived-reference drift indicator (box moment vs
                    # the BASELINE_ref.json moment; >1 = box now slower)
                    common_r = [k for k in common_p if k in ref]
                    if common_r:
                        out["pandas_probe_inflation"] = round(
                            sum(probes[k] for k in common_r)
                            / sum(ref[k] for k in common_r),
                            3,
                        )
            except Exception as probe_err:
                out["pandas_probe_error"] = str(probe_err)[:200]
    except Exception:
        pass  # a missing/era-skewed ref file must never zero the bench
    if errors:
        out["errors"] = errors
    print(json.dumps(out))

    if "--record" in sys.argv:
        # freshness record for tools/check_bench_fresh.py: ties these
        # numbers to the engine tree they were measured at, so a stale
        # BASELINE/BENCH claim fails the gate (round-6 verdict #2)
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from check_bench_fresh import engine_tree_hash, dirty_engine

        if dirty_engine():
            print("--record refused: uncommitted engine changes", file=sys.stderr)
            sys.exit(1)
        rec = {
            "engine_tree": engine_tree_hash(),
            # box-speed calibration: this machine's wall-clock drifted
            # ±40% across a single round-7 day (identical code+data:
            # pandas join_inner 233→491 s between rounds, engine runs
            # swinging run-to-run). A fixed-size single-thread probe
            # (sort + hash over the same PRNG array) stamps the box
            # state the suite numbers were taken under, so a future
            # reader can tell "code got slower" from "box got slower".
            "box_calib_ms": out["box_calib_ms"],
            # the core count the numbers were taken at (BASELINE.md's
            # config column); local[*] resolved to the cores it got
            "master": spark.sparkContext.master.replace(
                "*", str(len(os.sched_getaffinity(0)))),
            "result": out,
        }
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_HEAD.json"), "w") as f:
            json.dump(rec, f, indent=1)


def _pandas_probes(names: list[str]) -> dict[str, float]:
    """Median-of-3 in-run timings of the pandas side of every headline
    query (bodies shared with tools/bench_pandas_ref.py via
    tools/pandas_ref_queries.py) — the same-moment denominator.

    Gated by SPARK_GRAFT_PANDAS_PROBES: 'auto' (default) probes only
    the standard sf0.1 protocol dir (a 100× decade run would spend
    minutes re-measuring pandas mid-bench); '1' forces, '0' disables."""
    import statistics

    mode = os.environ.get("SPARK_GRAFT_PANDAS_PROBES", "auto")
    if mode == "0":
        return {}
    if mode == "auto" and not SF_DIR.rstrip("/").endswith("sf0.1"):
        return {}

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    )
    from pandas_ref_queries import build

    fns = build(SF_DIR)
    timings = {}
    for name in names:
        fn = fns.get(name)
        if fn is None:
            continue  # engine-only query (no pandas analog)
        fn()  # warmup
        ts = []
        for _ in range(3):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        timings[name] = round(statistics.median(ts), 4)
    return timings


def _box_calibration_ms() -> float:
    """Deterministic single-thread probe of this box's compute+memory
    speed (~1 s nominal): median of 5 passes of sort + xxhash-ish mix
    over a fixed PRNG array. Pure numpy, no Spark — measures the box,
    not the engine."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.integers(0, 2**62, size=2_000_000, dtype=np.int64)
    times = []
    for _ in range(5):
        t0 = time.time()
        b = np.sort(a)
        h = (b * np.int64(-7046029254386353131)) ^ (b >> 29)
        times.append(time.time() - t0)
        _sink = int(h[-1])
    times.sort()
    return round(times[2] * 1000, 2)


if __name__ == "__main__":
    main()

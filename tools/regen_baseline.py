"""Regenerate BASELINE.md's §6 table + totals from the committed
records — BASELINE_ref.json (pandas side, calib-stamped) and
BENCH_HEAD.json (engine side, calib-stamped) — so the engine column
can never drift from the machine-readable record it cites.

Usage: python tools/regen_baseline.py   (rewrites BASELINE.md in place)
"""

from __future__ import annotations

import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LABELS = {
    "q1_groupby_agg": "Q1 filter+groupby-agg: lineitem → filter(shipdate) → groupby(returnflag,linestatus).agg(sum×4, mean×3, count) → sort",
    "join_inner": "inner equi-join: lineitem ⋈ orders on orderkey",
    "join_left": "left outer join w/ duplicates: orders ⟕ customer",
    "merge_asof_backward": "merge_asof backward w/ by=: events asof events",
    "topk_orders": "multi-key sort + top-100: lineitem sort(extendedprice desc, orderkey) limit 100",
    "dedup_keep_first": "drop_duplicates(subset) keep=first after sort",
    "window_cumsum": "per-group cumsum window over orders",
    "rolling_time_mean": "time-based rolling('1h') mean on events",
    "resample_1h": "resample('1h').agg(sum,count) on events",
    "string_ops": "string ops: contains+replace+upper+slice on part",
    "value_counts": "value_counts on lineitem (returnflag,linestatus)",
    "query_dialect": "query/eval expression filter",
    "pivot_sum": "pivot_table(index=returnflag, columns=linestatus, values=qty, aggfunc=sum)",
    "melt_unpivot": "melt 3 value columns of lineitem",
    "groupby_skew_kurt": "groupby skew+kurt (G1/G2 composite aggs)",
    "ewm_mean": "ewm(alpha=.3).mean per user over events",
    "join_multi_star": "star join customer⋈nation⋈region (broadcast dims)",
}


def main() -> None:
    with open(os.path.join(ROOT, "BASELINE_ref.json")) as f:
        ref = json.load(f)
    with open(os.path.join(ROOT, "BENCH_HEAD.json")) as f:
        rec = json.load(f)
    eng = rec["result"]["queries"]
    # records before the master stamp were all taken on 32 cores
    master = rec.get("master", "local[32]")
    # Prefer the IN-RUN pandas probes (r10 verdict #1b/#4: bench.py
    # times the pandas side of every headline query in the same run,
    # so both table columns carry ONE shared moment stamp); fall back
    # to the archived BASELINE_ref.json for legacy records.
    sm_probes = rec["result"].get("pandas_same_moment") or {}
    same_moment_table = bool(sm_probes)
    pq = sm_probes if same_moment_table else ref["queries"]
    src_note = (
        "in-run same-moment probe" if same_moment_table
        else f"archived BASELINE_ref.json @ calib {ref.get('box_calib_ms')}"
    )
    lines = [
        f"| metric (query shape) | pandas (s, {src_note}) | our engine (s) | ratio | config | bench key |",
        "|---|---|---|---|---|---|",
    ]
    tot_p = tot_e = 0.0
    for k, label in LABELS.items():
        p, e = pq.get(k), eng.get(k)
        if p is None or e is None:
            continue
        tot_p += p
        tot_e += e
        lines.append(
            f"| {label} | {p} | {e} | {e / p:.1f}× | sf0.1, {master} | `{k}` |"
        )
    table = "\n".join(lines)
    norm = rec["result"].get("headline_aggregate_ratio_calib_normalized")
    raw = rec["result"].get("headline_aggregate_ratio")
    extras = ", ".join(
        f"`{k}` {eng[k]}s"
        for k in ("text_stats", "dedup_minhash_lsh", "sim_topk_cosine")
        if k in eng
    )
    sm = rec["result"].get("headline_aggregate_ratio_same_moment")
    infl = rec["result"].get("pandas_probe_inflation")
    if same_moment_table:
        totals = (
            f"Totals: pandas {round(tot_p, 3)}s vs engine {round(tot_e, 3)}s "
            f"over the headline set, BOTH columns measured in ONE bench run "
            f"at box_calib_ms {rec.get('box_calib_ms')} (bench.py re-runs "
            f"the pandas side of every headline query in-run; bodies shared "
            f"via tools/pandas_ref_queries.py) — **{sm}× same-moment** is "
            f"the headline number and needs no cross-moment normalization. "
            f"For continuity: {raw}× raw / {norm}× calib-normalized against "
            f"the archived BASELINE_ref.json (drift indicator "
            f"pandas_probe_inflation {infl}: in-run pandas vs archived). "
            f"The engine set also times pipeline ops pandas has no analog "
            f"for: {extras}."
        )
    else:
        totals = (
            f"Totals: pandas {round(tot_p, 3)}s (measured at box_calib_ms "
            f"{ref.get('box_calib_ms')}) vs engine {round(tot_e, 3)}s (at "
            f"box_calib_ms {rec.get('box_calib_ms')}) over the headline set — "
            f"**{raw}× raw, {norm}× calib-normalized, {sm}× same-moment** "
            f"(the same-moment field re-probes pandas queries in-run — "
            f"measured inflation {infl} this record — so numerator and "
            f"denominator share the box moment by construction; it is the "
            f"most trustworthy single number). The engine "
            f"set also times pipeline ops pandas has no analog for: {extras}."
        )
    path = os.path.join(ROOT, "BASELINE.md")
    with open(path) as f:
        doc = f.read()
    # replace the table block (header line .. last row starting with '|')
    doc = re.sub(
        r"\| metric \(query shape\).*?\n(?:\|.*\n)+",
        table + "\n",
        doc,
        count=1,
    )
    # replace the Totals paragraph (up to the first blank line after it)
    doc = re.sub(r"Totals: pandas.*?(?=\n\n)", totals, doc, count=1,
                 flags=re.S)
    with open(path, "w") as f:
        f.write(doc)
    print("BASELINE.md regenerated:", totals[:120])


if __name__ == "__main__":
    main()

"""``stream_replay``: three ``pandas_spark.streaming`` streams replay the
same micro-batch files of ``events``.

A pass starts ``resample_stream`` (1h), ``dedup_stream`` (user_id, 10
days) and ``merge_asof_stream`` (clicks <- purchases by user_id) one
after another under ``availableNow`` with one file per trigger, each
with a fresh checkpoint under the run's work directory and a memory
sink. The first pass in the fresh session is the cold pass. In each
later pass, right after each stream, its result is computed in pandas
from the same files, for the same-moment ratio.
"""

from __future__ import annotations

import os
import statistics
from collections import Counter

import pandas as pd

import pandas_spark as ps
from layers import now, union_length
from pandas_spark import streaming as pss

TIMEOUT_S = 150


def _clicks(ev):
    return ev.where("event_type = 'click'").select("user_id", "ts", "event_id")


def _purchases(ev):
    return ev.where("event_type = 'purchase'").select("user_id", "ts", "value")


STREAMS = {
    "resample_stream": (
        lambda ev: pss.resample_stream(ev, "1h", on="ts", spec={"value": ["sum", "count"]}),
        "complete"),
    "dedup_stream": (
        lambda ev: pss.dedup_stream(ev, ["user_id"], on="ts", watermark="10 days"),
        "append"),
    "merge_asof_stream": (
        lambda ev: pss.merge_asof_stream(_clicks(ev), _purchases(ev), on="ts", by=["user_id"]),
        "append"),
}

PROGRESS_MS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def _run_stream(ctx, name: str, label: str, pass_span: int | None) -> dict:
    build, mode = STREAMS[name]
    table = f"{name}_{label}"
    rec = {"name": name, "ok": True, "table": table, "batches": [], "rows": 0}
    traced = pass_span is not None
    tid = ctx.tracer.new_id() if traced else None
    calls0 = ctx.probe.py4j_calls if traced else 0
    t0 = now()
    t1 = t2 = None
    q = None
    try:
        if name == ctx.fail_query:
            raise RuntimeError(f"forced failure of {name}")
        out = build(pss.read_stream_parquet(ctx.spark, ctx.replay_dir))
        t1 = now()
        calls1 = ctx.probe.py4j_calls if traced else 0
        q = (out.writeStream.format("memory").queryName(table).outputMode(mode)
             .option("checkpointLocation", os.path.join(ctx.ckpt_dir, table))
             .trigger(availableNow=True).start())
        q.awaitTermination(TIMEOUT_S)
        t2 = now()
        if q.isActive:
            q.stop()
            raise TimeoutError(f"stream {table} did not finish in {TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    except Exception as e:  # a broken stream is counted, never dropped
        rec["ok"] = False
        ctx.log(f"stream {name} failed: {type(e).__name__}: {str(e)[:300]}")
    t2 = t2 or now()
    t1 = t1 or t2
    rec["wall_s"] = t2 - t0
    rec["build_s"] = t1 - t0
    progress = [p for p in q.recentProgress if p.numInputRows > 0] if q is not None else []
    rec["batches"] = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in progress]
    rec["rows"] = sum(p.numInputRows for p in progress)
    rec["run_s"] = t2 - t1
    if not traced:
        return rec
    sspan = ctx.tracer.add("stream", name, tid, t0, t2, parent=pass_span)
    ctx.tracer.add("build", name, tid, t0, t1, parent=sspan)
    rspan = ctx.tracer.add("exec", name, tid, t1, t2, parent=sspan)
    bspans = []
    for p in progress:
        start = ctx.epoch_to_perf(pd.Timestamp(p.timestamp).timestamp())
        bspans.append(ctx.tracer.add("batch", f"{name}#{p.batchId}", tid, start,
                                     start + p.durationMs.get("triggerExecution", 0) / 1e3,
                                     parent=rspan))
    rec["build_py4j_calls"] = (calls1 if rec["ok"] else ctx.probe.py4j_calls) - calls0
    jobs = ctx.probe.jobs()
    ctx.add_job_spans(jobs, tid, bspans + [rspan])
    rec["jobs"] = jobs
    rec["job_s"] = union_length([j[:2] for j in jobs["spans"]])
    rec["driver_s"] = rec["run_s"] - rec["job_s"]
    rec["python"] = ctx.probe.python()
    rec["progress"] = {f"stream.{_snake(k)}_s": sum(p.durationMs.get(k, 0) for p in progress) / 1e3
                       for k in PROGRESS_MS}
    ops = [op for p in progress[-1:] for op in p.stateOperators]
    rec["state"] = {
        "state.rows_total": sum(op.numRowsTotal for op in ops),
        "state.memory_bytes": sum(op.memoryUsedBytes for op in ops),
        "state.commit_s": sum(op.commitTimeMs for p in progress for op in p.stateOperators) / 1e3,
        "state.rows_dropped_by_watermark": sum(
            op.numRowsDroppedByWatermark for p in progress for op in p.stateOperators),
    }
    return rec


def _snake(k: str) -> str:
    return "".join("_" + c.lower() if c.isupper() else c for c in k)


def _pass(ctx, label: str, traced: bool, twins: bool = False) -> dict:
    """One run of each stream; with ``twins``, each stream's pandas twin
    is timed right after it (outside the stream's wall)."""
    order = list(STREAMS)
    log0 = ctx.log_offset()
    if traced:
        ctx.probe.skip_until_now()
    t0 = now()
    pspan = ctx.tracer.add("pass", label, 0, t0, t0) if traced else None
    recs = []
    for n in order:
        recs.append(_run_stream(ctx, n, label, pspan))
        if twins:
            recs[-1]["pandas_s"] = _pandas_time(ctx.replay_dir, n)
    t1 = now()
    if traced:
        ctx.tracer.spans[pspan]["end"] = t1
    return {"label": label, "recs": recs, "wall_s": sum(r["wall_s"] for r in recs),
            "span_s": t1 - t0, "warnings": ctx.warnings_since(log0)}


def _asof_twin(ev):
    clicks = ev[ev.event_type == "click"].sort_values("ts")[["user_id", "ts", "event_id"]]
    purchases = ev[ev.event_type == "purchase"].sort_values("ts")[["user_id", "ts", "value"]]
    return pd.merge_asof(clicks, purchases, on="ts", by="user_id")


PANDAS_TWINS = {
    "resample_stream": lambda ev: ev.set_index("ts").resample("1h")["value"].agg(["sum", "count"]),
    "dedup_stream": lambda ev: ev.drop_duplicates("user_id"),
    "merge_asof_stream": _asof_twin,
}


def _pandas_time(replay_dir: str, name: str) -> float:
    """Fastest of five timings of one stream's pandas twin, reading the
    files included. Taken right after the stream ran, so that both see
    the box at nearly the same moment; a slow moment only ever adds."""
    ts = []
    for _ in range(5):
        t0 = now()
        PANDAS_TWINS[name](pd.read_parquet(replay_dir))
        ts.append(now() - t0)
    return min(ts)


def _check(ctx, p: dict) -> set[str]:
    """Streams whose output differs from the batch twin on the same files."""
    spark = ctx.spark
    batch = ps.read_parquet(spark, ctx.replay_dir)
    bad = set()
    for r in p["recs"]:
        if not r["ok"]:
            continue
        got = spark.table(r["table"]).collect()
        if r["name"] == "resample_stream":
            twin = batch.resample("1h", on="ts").agg({"value": ["sum", "count"]}).to_spark().collect()
            key = lambda rows: {x["ts"]: (round(x["value_sum"], 6), x["value_count"])
                                for x in rows if x["value_count"]}
            ok = key(got) == key(twin)
        elif r["name"] == "dedup_stream":
            users = {x["user_id"] for x in batch.to_spark().select("user_id").distinct().collect()}
            ok = Counter(x["user_id"] for x in got) == Counter(users)
        else:
            bc = batch.filter(ps.col("event_type") == "click").select(["user_id", "ts", "event_id"])
            bp = batch.filter(ps.col("event_type") == "purchase").select(["user_id", "ts", "value"])
            twin = ps.merge_asof(bc, bp, on="ts", by="user_id").to_spark().collect()
            key = lambda rows: {x["event_id"]: None if x["value"] is None else round(x["value"], 9)
                                for x in rows}
            ok = key(got) == key(twin) and len(got) == len(twin)
        if not ok:
            bad.add(r["name"])
            ctx.log(f"check {r['name']} failed: output differs from its batch twin")
    return bad


def _layer_sums(p: dict) -> dict[str, float]:
    recs = [r for r in p["recs"] if r["ok"]]
    out = {
        "build.warm_s": sum(r["build_s"] for r in p["recs"]),
        "build.py4j_calls": sum(r["build_py4j_calls"] for r in p["recs"]),
        "exec.driver_s": sum(r["driver_s"] for r in recs),
        "exec.job_s": sum(r["job_s"] for r in recs),
        "exec.jobs": sum(r["jobs"]["jobs"] for r in recs),
        "exec.stages": sum(r["jobs"]["stages"] for r in recs),
        "exec.tasks": sum(r["jobs"]["tasks"] for r in recs),
    }
    for r in recs:
        for group in (r["progress"], r["state"], r["python"],
                      {k: v for k, v in r["jobs"].items() if "." in k}):
            for k, v in group.items():
                out[k] = out.get(k, 0) + v
    out.update(p["warnings"])
    return out


def run(ctx) -> dict:
    cold = _pass(ctx, "cold", False)
    warm = []
    t_start = now()
    while not warm or now() - t_start < ctx.seconds:
        warm.append(_pass(ctx, f"warm{len(warm) + 1}", False, twins=True))
    ratios = [p["wall_s"] / sum(r["pandas_s"] for r in p["recs"]) for p in warm]
    traced_warm = _pass(ctx, "warm_traced", True) if ctx.traced else None

    t_check = now()
    bad = _check(ctx, warm[-1])
    check_s = now() - t_check
    passes = [cold] + warm + ([traced_warm] if traced_warm else [])
    attempted = sum(len(p["recs"]) for p in passes)
    failed = sum(1 for p in passes for r in p["recs"] if not r["ok"] or r["name"] in bad)
    batches = [b for p in warm for r in p["recs"] for b in r["batches"]]
    out = {
        "attempted": attempted,
        "failed": failed,
        "correct": not bad,
        "end_to_end": {
            "cold_pass_s": cold["wall_s"],
            "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
            "pandas_ratio": statistics.median(ratios),
        },
        "per_op": {n: statistics.median(b or [0.0]) for n, b in (
            (n, [x for p in warm for r in p["recs"] if r["name"] == n for x in r["batches"]])
            for n in STREAMS)},
        "stamp": {"check_s": check_s, "ops": len(batches),
                  "stream_rows_per_s": sum(r["rows"] for p in warm for r in p["recs"])
                  / sum(r["run_s"] for p in warm for r in p["recs"])},
    }
    if traced_warm:
        layers = _layer_sums(traced_warm)
        layers["build.cold_s"] = sum(r["build_s"] for r in cold["recs"])
        layers["trace.overhead_s"] = traced_warm["span_s"] - out["end_to_end"]["warm_pass_s"]
        out["per_layer"] = layers
    return out

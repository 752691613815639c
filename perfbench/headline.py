"""``headline_sf0.1``: the 20 ``bench.HEADLINE`` queries.

Each pass runs every query once, in a seeded order, and materializes it
through the ``noop`` sink. The first pass in the fresh session is the
cold pass; later passes follow while the run's seconds last (one at
sf0.1). Between the two, the 17 queries that have a pandas body
(``tools/pandas_ref_queries``) run in pandas, so the ratio compares the
two at nearly the same moment.
"""

from __future__ import annotations

import statistics

import checks
from bench import HEADLINE
from layers import now, union_length
from pandas_ref_queries import build as build_pandas
from pandas_spark import suite

MINHASH = "dedup_minhash_lsh"
TEXT_STATS = "text_stats"
TEXT_STATS_SAMPLE = 1000
# the engine re-executes each checked query and the oracles take up to
# seconds each at sf0.1; to keep a run inside its time budget each run
# checks two queries, HEADLINE[i] and HEADLINE[i + 10] with i the seed
# mod 10, so any ten consecutive seeds check all 20, and the two slowest
# checks (text_stats, dedup_minhash_lsh) never share a run
CHECK_GROUPS = 10


def _proven_bytes(df) -> int:
    """Leaf-relation bytes of the analyzed plan, as session.tune_for_plan
    reads them to pick small or large mode."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return sum(int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size()))


def _run_query(ctx, qs, name: str, pass_span: int | None) -> dict:
    rec = {"name": name, "ok": True}
    traced = pass_span is not None
    tid = ctx.tracer.new_id() if traced else None
    calls0 = ctx.probe.py4j_calls if traced else 0
    t0 = now()
    t1 = None
    try:
        if name == ctx.fail_query:
            raise RuntimeError(f"forced failure of {name}")
        df = qs[name](ctx.spark, ctx.data_dir)
        t1 = now()
        if traced:
            calls1 = ctx.probe.py4j_calls
            build_jobs = ctx.probe.jobs()
            t1b = now()
        df.write.format("noop").mode("overwrite").save()
    except Exception as e:  # a broken query is counted, never dropped
        rec["ok"] = False
        ctx.log(f"query {name} failed: {type(e).__name__}: {str(e)[:300]}")
    t2 = now()
    t1 = t1 or t2
    rec["wall_s"] = t2 - t0
    rec["build_s"] = t1 - t0
    if not traced:
        return rec
    # the status-store drain between build and execute is trace cost,
    # kept out of the query's time and recorded as its own span
    gap = (t1b - t1) if rec["ok"] else 0.0
    rec["wall_s"] -= gap
    qspan = ctx.tracer.add("query", name, tid, t0, t2, parent=pass_span)
    ctx.tracer.add("build", name, tid, t0, t1, parent=qspan)
    rec["build_py4j_calls"] = (calls1 if rec["ok"] else ctx.probe.py4j_calls) - calls0
    if not rec["ok"]:
        ctx.probe.jobs()
        ctx.probe.python()
        return rec
    ctx.tracer.add("probe", name, tid, t1, t1b, parent=qspan)
    rec["build_jobs"] = build_jobs["jobs"]
    exec_s = t2 - t1b
    espan = ctx.tracer.add("exec", name, tid, t1b, t2, parent=qspan)
    jobs = ctx.probe.jobs()
    ctx.add_job_spans(jobs, tid, [espan])
    rec["exec_s"] = exec_s
    rec["job_s"] = union_length([j[:2] for j in jobs["spans"]])
    rec["driver_s"] = exec_s - rec["job_s"]
    rec["jobs"] = jobs
    rec["python"] = ctx.probe.python()
    rec["small_mode"] = ctx.spark.conf.get("spark.sql.adaptive.enabled") == "false"
    rec["proven_bytes"] = _proven_bytes(df)
    return rec


def _pass(ctx, qs, label: str, traced: bool) -> dict:
    order = [HEADLINE[i] for i in ctx.rng.permutation(len(HEADLINE))]
    log0 = ctx.log_offset()
    if traced:
        ctx.probe.skip_until_now()
    t0 = now()
    pspan = ctx.tracer.add("pass", label, 0, t0, t0) if traced else None
    recs = [_run_query(ctx, qs, n, pspan) for n in order]
    t1 = now()
    if traced:
        ctx.tracer.spans[pspan]["end"] = t1
    return {"label": label, "recs": recs, "wall_s": sum(r["wall_s"] for r in recs),
            "span_s": t1 - t0, "warnings": ctx.warnings_since(log0)}


def _pandas_pass(pandas_fns: dict) -> dict[str, float]:
    """Faster of two timings of each pandas body (the first run of a
    body is its warm-up)."""
    out = {}
    for name, fn in pandas_fns.items():
        ts = []
        for _ in range(2):
            t0 = now()
            fn()
            ts.append(now() - t0)
        out[name] = min(ts)
    return out


def _layer_sums(p: dict) -> dict[str, float]:
    recs = [r for r in p["recs"] if r["ok"]]
    out = {
        "build.warm_s": sum(r["build_s"] for r in p["recs"]),
        "build.py4j_calls": sum(r["build_py4j_calls"] for r in p["recs"]),
        "build.jobs": sum(r["build_jobs"] for r in recs),
        "mode.small_queries": sum(r["small_mode"] for r in recs),
        "plan.proven_bytes": sum(r["proven_bytes"] for r in recs),
        "exec.driver_s": sum(r["driver_s"] for r in recs),
        "exec.job_s": sum(r["job_s"] for r in recs),
        "exec.jobs": sum(r["jobs"]["jobs"] for r in recs),
        "exec.stages": sum(r["jobs"]["stages"] for r in recs),
        "exec.tasks": sum(r["jobs"]["tasks"] for r in recs),
    }
    for key in recs[0]["jobs"] if recs else ():
        if "." in key:
            out[key] = sum(r["jobs"][key] for r in recs)
    for key in recs[0]["python"] if recs else ():
        out[key] = sum(r["python"][key] for r in recs)
    out.update(p["warnings"])
    return out


def _check(ctx, qs, names: list[str]) -> set[str]:
    """Those of ``names`` whose result disagrees with its oracle."""
    oracles = suite.oracle_sql()
    con = checks.duck_con(ctx.data_dir)
    bad = set()
    for name in names:
        if name == ctx.fail_query:
            continue  # already counted as failed on every execution
        try:
            engine = qs[name](ctx.spark, ctx.data_dir).toPandas()
            docs = None
            if name == MINHASH:
                # the all-pairs oracle is quadratic in documents (minutes
                # at sf0.1): run it over every doc the engine paired plus
                # every pair the generator planted
                docs = set(engine["id1"]) | set(engine["id2"])
                docs |= {d for pair in ctx.planted for d in pair}
            elif name == TEXT_STATS:
                # one row per doc, and the oracle's text scoring takes
                # seconds at sf0.1: compare a seeded sample of docs
                n_docs = int(con.execute("SELECT count(*) FROM documents").fetchone()[0])
                docs = set(ctx.rng.choice(n_docs, min(n_docs, TEXT_STATS_SAMPLE), replace=False).tolist())
                engine = engine[engine["doc_id"].isin(docs)]
            if docs is None:
                oracle = con.execute(oracles[name]).df()
            else:
                with checks.duck_con(ctx.data_dir, docs_filter=docs) as sub:
                    oracle = sub.execute(oracles[name]).df()
            diff = checks.compare(engine, oracle)
        except Exception as e:
            diff = f"{type(e).__name__}: {str(e)[:300]}"
        if diff:
            bad.add(name)
            ctx.log(f"check {name} failed: {diff}")
    con.close()
    return bad


def run(ctx) -> dict:
    qs = suite.queries()
    pandas_fns = {k: v for k, v in build_pandas(ctx.data_dir).items() if k in HEADLINE}
    cold = _pass(ctx, qs, "cold", False)
    # pandas runs between the cold and the warm passes: its ~4 s on one
    # core let the JIT work queued by the cold pass drain before the warm
    # pass is timed
    pandas = _pandas_pass(pandas_fns)
    warm, traced_warm = [], None
    t_start = now()
    while not warm or now() - t_start < ctx.seconds:
        warm.append(_pass(ctx, qs, f"warm{len(warm) + 1}", False))
    engine = statistics.median(
        sum(r["wall_s"] for r in p["recs"] if r["name"] in pandas) for p in warm)
    if ctx.traced:
        traced_warm = _pass(ctx, qs, "warm-traced", True)

    t_check = now()
    bad = _check(ctx, qs, HEADLINE[ctx.seed % CHECK_GROUPS::CHECK_GROUPS])
    check_s = now() - t_check
    passes = [cold] + warm + ([traced_warm] if traced_warm else [])
    attempted = sum(len(p["recs"]) for p in passes)
    failed = sum(1 for p in passes for r in p["recs"] if not r["ok"] or r["name"] in bad)
    out = {
        "attempted": attempted,
        "failed": failed,
        "correct": not bad,
        "end_to_end": {
            "cold_pass_s": cold["wall_s"],
            "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
            "pandas_ratio": engine / sum(pandas.values()),
        },
        "per_op": {n: statistics.median(r["wall_s"] for p in warm for r in p["recs"]
                                        if r["name"] == n) for n in HEADLINE},
        "stamp": {"check_s": check_s, "ops": sum(len(p["recs"]) for p in warm)},
    }
    if traced_warm:
        layers = _layer_sums(traced_warm)
        layers["build.cold_s"] = sum(r["build_s"] for r in cold["recs"])
        layers["trace.overhead_s"] = traced_warm["span_s"] - out["end_to_end"]["warm_pass_s"]
        out["per_layer"] = layers
    return out

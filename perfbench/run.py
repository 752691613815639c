"""sparkframe benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 5 --trace 0

Run from the repository root. The run measures set-up first (a fresh
``import pandas_spark`` + ``get_spark`` on ``local[<nproc>]``), then
generates its inputs from ``--seed`` under ``perfbench/.work``, runs the
workload's passes from this one client process (a closed loop, one
operation at a time), checks every output once outside the timed
passes, and prints two JSON lines: a stamp of the run's conditions, and
the result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones, and the spans are
written to ``perfbench/.work/trace-<workload>-<seed>.json``.

Workloads: ``headline_sf0.1`` (headline.py) and ``stream_replay``
(stream.py). ``--scale`` and ``--fail-query`` exist for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = {
    # name -> (tables generated, scale)
    "headline_sf0.1": (None, 0.1),
    "stream_replay": ({"events"}, 0.1),
}
REPLAY_FILES = 3
REPLAY_DAYS = 14


class Context:
    """What a workload needs: the session, its inputs, and the probes
    of a traced run."""

    def __init__(self, spark, args, data_dir: str, log_path: str) -> None:
        import numpy as np

        from layers import StatusProbe, Tracer

        self.spark = spark
        self.data_dir = data_dir
        self.replay_dir = os.path.join(data_dir, "replay")
        self.ckpt_dir = os.path.join(WORK, "ckpt")
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.fail_query = args.fail_query
        self.rng = np.random.default_rng([args.seed, 1])
        self.planted: list[tuple[int, int]] = []
        self.tracer = Tracer()
        self.probe = StatusProbe(spark) if self.traced else None
        if self.traced:
            self.probe.count_py4j()
        self._log_path = log_path
        self._epoch_offset = time.time() - time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def log_offset(self) -> int:
        return os.path.getsize(self._log_path)

    def warnings_since(self, start: int) -> dict[str, int]:
        from layers import count_warnings

        return count_warnings(self._log_path, start, self.log_offset())

    def epoch_to_perf(self, t: float) -> float:
        return t - self._epoch_offset

    def add_job_spans(self, jobs: dict, trace_id: int, parents: list[int]) -> None:
        """Job and stage spans, each job under the first of ``parents``
        whose interval holds its start (the last one otherwise)."""
        for start, end, stages in jobs["spans"]:
            start, end = self.epoch_to_perf(start), self.epoch_to_perf(end)
            parent = next((p for p in parents
                           if self.tracer.spans[p]["start"] <= start <= self.tracer.spans[p]["end"]),
                          parents[-1])
            jspan = self.tracer.add("job", "job", trace_id, start, end, parent=parent)
            for s, e in stages:
                self.tracer.add("stage", "stage", trace_id, self.epoch_to_perf(s),
                                self.epoch_to_perf(e), parent=jspan)


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="data scale factor (default: the workload's own)")
    ap.add_argument("--fail-query", default=None,
                    help="make this query or stream raise on every run")
    return ap.parse_args(argv)


def _prepare_env() -> str:
    """Keep every file the run writes inside the work directory, make
    the engine importable in Spark's Python workers whatever the cwd,
    and send the driver JVM's log to a file whose warnings are counted
    (Python's own stderr stays on the terminal). Returns the log path."""
    for sub in ("data", "ckpt", "tmp"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    paths = [ROOT, os.path.join(ROOT, "tools")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = paths
    log_path = os.path.join(WORK, "driver.log")
    sys.stderr = os.fdopen(os.dup(2), "w")
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return log_path


def main(argv: list[str]) -> int:
    start = time.perf_counter()
    args = _parse(argv)
    log_path = _prepare_env()

    t0 = time.perf_counter()
    from pandas_spark import get_spark  # importing the engine is part of set-up

    spark = get_spark("perfbench")
    setup_s = time.perf_counter() - t0

    import bench
    import datagen
    import headline
    import stream

    tables, scale = WORKLOADS[args.workload]
    scale = args.scale or scale
    data_dir = os.path.join(WORK, "data", f"{args.workload}-{args.seed}")
    ctx = Context(spark, args, data_dir, log_path)
    t = time.perf_counter()
    rows, ctx.planted = datagen.generate(data_dir, scale, args.seed, tables)
    if args.workload == "stream_replay":
        rows["replay"] = datagen.replay_files(
            os.path.join(data_dir, "events.parquet"), ctx.replay_dir, args.seed,
            REPLAY_FILES, REPLAY_DAYS)
    datagen_s = time.perf_counter() - t
    data_bytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(data_dir) for f in fs)

    res = (headline if args.workload.startswith("headline") else stream).run(ctx)

    spec = _spec()
    if ctx.traced:
        # a layer the workload never enters (the state store on the
        # headline queries, the session gate on streams) reads 0
        metrics = {m["name"]: 0 for m in spec["per_layer"]}
        metrics.update(res["per_layer"])
        metrics.update({f"op.{n}.p50_s": v for n, v in res["per_op"].items()})
        metrics.update({f"self.{k}_s": v for k, v in ctx.tracer.self_times().items()})
    else:
        metrics = {"setup_s": setup_s, **res["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "box_calib_ms": bench._box_calibration_ms(), "scale": scale,
        "data_bytes": data_bytes, "data_rows": rows, "datagen_s": datagen_s,
        "failed_frac": res["failed"] / res["attempted"], **res.get("stamp", {}),
        "op_p50_s": res["per_op"],
        "run_s": time.perf_counter() - start,
    }
    if ctx.traced:
        ctx.tracer.write(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                         {"stamp": stamp, "metrics": metrics})
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    print(json.dumps({"stamp": stamp}), flush=True)
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

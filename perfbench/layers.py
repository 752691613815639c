"""Per-layer measurement from outside the engine.

``Tracer`` keeps spans in memory and derives each layer's self time.
``StatusProbe`` reads what Spark's status stores recorded for the jobs,
stages and SQL executions launched since its previous read, and counts
py4j commands the Spark driver sends while a span is open. Nothing here
changes how the engine runs; the traced run pays for the reads between
spans, which ``trace.overhead_s`` reports.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_UNIT_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}

# SQL metric display names of Spark 4.1's Python-UDF plan nodes
PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

STAGE_FIELDS = {
    # metric -> (StageData accessor, scale)
    "task.run_s": ("executorRunTime", 1e-3),
    "task.cpu_s": ("executorCpuTime", 1e-9),
    "task.gc_s": ("jvmGcTime", 1e-3),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "spill.disk_bytes": ("diskBytesSpilled", 1),
    "spill.mem_bytes": ("memoryBytesSpilled", 1),
    "scan.input_bytes": ("inputBytes", 1),
    "scan.input_records": ("inputRecords", 1),
    "driver.result_bytes": ("resultSize", 1),
}


def _interval(data) -> tuple[float, float] | None:
    """(submission, completion) in epoch seconds of a JobData/StageData."""
    sub, done = data.submissionTime(), data.completionTime()
    if sub.isDefined() and done.isDefined():
        return sub.get().getTime() / 1e3, done.get().getTime() / 1e3
    return None


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'total (min, med, max ...)\\n
    2.3 s (...)'`` -> 2.3 for timings (in s), bytes for sizes."""
    total = text.split("\n")[-1].split(" (")[0].strip().replace(",", "")
    parts = total.split()
    if len(parts) == 2 and parts[1] in _UNIT_S:
        return float(parts[0]) * _UNIT_S[parts[1]]
    if len(parts) == 2 and parts[1] in _UNIT_B:
        return float(parts[0]) * _UNIT_B[parts[1]]
    return float(parts[0])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (jobs overlap, so
    their durations must not be summed)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans at the benchmark's calls into each layer; one id per
    query or stream, shared by all of its spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def new_id(self) -> int:
        return next(self._ids)

    def add(self, layer: str, name: str, trace_id: int, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "trace": trace_id,
                           "layer": layer, "name": name, "start": start,
                           "end": end, **attrs})
        return sid

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_length([(max(a, s["start"]), min(b, s["end"]))
                                    for a, b in kids[s["id"]] if b > a])
            out[s["layer"]] += max(0.0, s["end"] - s["start"] - covered)
        return dict(out)

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f)


class StatusProbe:
    """Reads Spark's AppStatusStore / SQLAppStatusStore after the fact."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self._last_exec = -1
        self._gw = spark.sparkContext._gateway._gateway_client
        self.py4j_calls = 0
        self.skip_until_now()

    def count_py4j(self) -> None:
        """Count every py4j command this process sends from now on."""
        orig = self._gw.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return orig(*args, **kwargs)

        self._gw.send_command = counted

    def skip_until_now(self) -> None:
        """Forget jobs and executions recorded so far."""
        self.jobs()
        self.python()

    def jobs(self) -> dict:
        """Jobs started since the previous call: their count, their
        ``(start, end, stage intervals)`` in epoch seconds, and the sums
        over their stages that ran."""
        self._bus.waitUntilEmpty(30_000)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "spans": []}
        for k in STAGE_FIELDS:
            out[k] = 0.0
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            out["jobs"] += 1
            span = _interval(job)
            stage_spans: list[tuple[float, float]] = []
            if span:
                out["spans"].append((*span, stage_spans))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                if (iv := _interval(st)) is not None:
                    stage_spans.append(iv)
                for k, (field, scale) in STAGE_FIELDS.items():
                    out[k] += getattr(st, field)() * scale
        return out

    def python(self) -> dict[str, float]:
        """Python-worker SQL metrics of executions since the previous call."""
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        n, k = self._sql.executionsCount(), 8
        if n == 0:
            return out
        while True:
            # the newest k executions; widen until the oldest is known
            batch = self._sql.executionsList(max(0, n - k), min(n, k))
            fresh = [batch.apply(i) for i in range(batch.size())]
            ids = [ex.executionId() for ex in fresh]
            if k >= n or (ids and min(ids) <= self._last_exec):
                break
            k *= 4
        fresh = [ex for ex, i in zip(fresh, ids) if i > self._last_exec]
        self._last_exec = max(ids, default=self._last_exec)
        for ex in fresh:
            eid = ex.executionId()
            wanted = {}
            ms = ex.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in PYTHON_METRICS:
                    wanted[m.accumulatorId()] = PYTHON_METRICS[m.name()]
            if not wanted:
                continue
            values = self._sql.executionMetrics(eid)
            for acc, key in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())
        return out


def count_warnings(log_path: str, start: int, end: int) -> dict[str, int]:
    """The two Spark warnings nothing else surfaces, between two byte
    offsets of the redirected driver log."""
    with open(log_path, "rb") as f:
        f.seek(start)
        text = f.read(max(0, end - start)).decode("utf-8", "replace")
    return {
        "warn.hint_ignored": text.count("WARN HintErrorLogger"),
        "warn.large_task": text.count("task of very large size"),
    }


now = time.perf_counter

"""SparkSession bootstrap tuned for the engine.

Local testing runs on ``local[N]`` (one JVM); the configs below are the
ones that also matter on a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for every Python<->JVM data
exchange, UTC session time so results are oracle-comparable, and a
shuffle-partition default sized for the local core count (clusters
override via ``spark.sql.shuffle.partitions`` / AQE advisory size).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from pandas_spark import _jvmstart

_JAVA_OPTS = "spark.driver.defaultJavaOptions"

_DEFAULTS = {
    # AQE: runtime stats beat static planning — coalesce tiny shuffle
    # partitions, convert to broadcast when a side turns out small,
    # split skewed partitions. Essential at the 100 TB design point.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow on every pandas<->Spark boundary (pandas_udf, toPandas,
    # createDataFrame) — batch columnar transfer, not per-row pickle.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Deterministic, oracle-comparable timestamps.
    "spark.sql.session.timeZone": "UTC",
    # pyspark's DataFrame-debugging origin capture wraps EVERY
    # DataFrame API call in ~6 extra JVM round trips (set/get/clear of
    # the call-site holder) purely to enrich error messages with the
    # Python call site. On a merge-heavy query that is measurable
    # driver time (~65 extra calls per star-join build, py4j-profiled);
    # the engine's own errors carry context, so trade the cosmetics
    # for plan-construction latency.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Broadcast sides estimated under 32 MB at PLAN time. The 10 MB
    # default makes AQE do the broadcast conversion at RUNTIME instead —
    # correct plan, but only after materializing the first shuffle
    # stage (a whole extra stage barrier per join). Dimension tables
    # that genuinely fit executor memory should broadcast statically;
    # at the 100 TB design point fact-table estimates are orders of
    # magnitude over this threshold, so large joins still sort-merge
    # (and AQE still re-plans runtime surprises in either direction).
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # ANSI off: pandas semantics are non-ANSI (1/0 -> inf handled at
    # our expression layer, overflow wraps are shimmed per-op).
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    # Stream checkpoints (offset and commit logs, file-source log, state
    # deltas) go through Hadoop FileSystem, not FileContext. On `file:`,
    # FileContext's RawLocalFs resolves each path with FileUtil.readLink,
    # which forks a `readlink` process from the driver JVM: ~100 per
    # stream_replay micro-batch. Measured on 4 cores (11 ABBA pairs):
    # stream_replay pandas_ratio 120 -> 93; in traced passes the summed
    # state commit fell 3.7 -> 0.3 s. Both managers refuse a
    # no-overwrite rename onto an existing file; an overwrite is one
    # atomic rename(2) here, delete-then-rename under FileContext.
    # HDFS's rename never overwrites, so there a retried batch's delta
    # rewrite would keep the old file: restore FileContext through
    # get_spark(**extra) (SCALE.md, "Checkpoint writes").
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def get_spark(app_name: str = "pandas_spark", **extra: str) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``);
    shuffle partitions default to the local core count (the CPU
    affinity set for ``*``), so tiny local runs don't pay 200-way
    shuffles. That count is also every new stateful stream's state
    partition count, fixed at the stream's first batch for the life of
    its checkpoint (SCALE.md, "Streaming state partitions"). Cluster
    deployments pass their own value via ``extra`` or
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``. The first launch of the driver
    JVM trains a class-data archive that later launches map
    (``_jvmstart``).
    """
    if os.environ.get("SPARK_GRAFT_PROFILE"):
        profile(os.environ["SPARK_GRAFT_PROFILE"])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # SPARK_GRAFT_SHUFFLE_PARTITIONS overrides the core-count default:
    # giant local runs (e.g. the 1000x crossover decade, ~20 GB
    # lineitem) need more initial shuffle partitions than cores so a
    # partition stays within executor memory — AQE then coalesces
    # whatever turns out small. Same knob a cluster deployment tunes.
    shuffle = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(_shuffle_partitions(cpus))
    )
    conf = {
        "spark.sql.shuffle.partitions": shuffle,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.driver.maxResultSize": os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        **_DEFAULTS,
        **extra,
    }

    def build(java_opts):
        builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
        for k, v in conf.items():
            builder = builder.config(k, v)
        if java_opts:
            # defaultJavaOptions, because --driver-java-options in
            # PYSPARK_SUBMIT_ARGS replaces extraJavaOptions
            own = conf.get(_JAVA_OPTS)
            builder = builder.config(_JAVA_OPTS, f"{own} {java_opts}" if own else java_opts)
        return builder.getOrCreate()

    spark = _jvmstart.launch(build, conf["spark.driver.memory"])
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Named config profiles so the giant-corpus decades are reproducible
# from a committed command line instead of shell-history env exports
# (the r5 gates had to scrub ambient SPARK_GRAFT_* precisely because
# those knobs lived only in the operator's shell). Values are what the
# 10^3-10^4x crossover runs empirically needed on one 128 GiB box; on a
# real cluster the same two knobs are what an operator tunes first.
PROFILES = {
    # default: core-count shuffle partitions, 8g driver (set in get_spark)
    "default": {},
    # large: ~sf100 on one box (20 GB lineitem, 50M docs). More initial
    # shuffle partitions than cores so a partition fits in memory (AQE
    # coalesces the small ones back); a driver heap big enough for
    # bounded receipts (k-means samples, per-task top-n merges) with
    # headroom. driver.memory only applies before JVM launch — profile()
    # must run before the first getOrCreate() in the process.
    "large": {
        "spark.sql.shuffle.partitions": "256",
        "spark.driver.memory": "48g",
        "spark.driver.maxResultSize": "4g",
    },
}


def profile(name: str = "default") -> dict:
    """Apply a named config profile (``session.profile('large')``) by
    seeding the same SPARK_GRAFT_* env vars the knobs already honor —
    callable from Python before :func:`get_spark`, equivalent to the
    documented CLI form::

        SPARK_GRAFT_PROFILE=large python bench_crossover.py ...

    Returns the applied config dict."""
    conf = PROFILES[name]
    env_for = {
        "spark.sql.shuffle.partitions": "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "spark.driver.memory": "SPARK_GRAFT_DRIVER_MEM",
        "spark.driver.maxResultSize": "SPARK_GRAFT_MAX_RESULT",
    }
    for k, v in conf.items():
        # setdefault: an explicitly exported SPARK_GRAFT_* still wins
        os.environ.setdefault(env_for[k], v)
    return dict(conf)


# ---------------------------------------------------------------------------
# Scale-adaptive execution mode (consumption boundary; frame.to_spark)
# ---------------------------------------------------------------------------
# AQE materializes every exchange as its own job (stage barrier + stats
# + re-plan). On a 100 TB plan that re-plan is the whole point; on a
# footer-proven-tiny plan it is pure scheduler overhead — each extra
# job is a ~50-100 ms round trip, which for a sub-second query is the
# dominant cost (measured at sf0.1: the 10 largest headline queries
# drop 24% wall with AQE off + data-sized shuffle partitions). The
# leaf-relation sizes of the analyzed plan (parquet footer stats /
# in-memory relation stats — no job, ~1 ms warm) decide which regime a
# plan is in; anything unknown, streaming, or above the threshold keeps
# the adaptive defaults. A wrong guess here can only cost milliseconds
# on a small plan — large plans can never lose AQE because the gate is
# an upper bound proven from source statistics.
_SMALL_PLAN_BYTES = 64 << 20
# small-mode shuffle partitions scale with the proven source bytes
# (~2 MiB per partition, swept at sf0.1 and the 10x decade): a 2 MB
# plan shuffles 4 ways (less scheduling than 32 near-empty tasks); a
# 20 MB plan keeps ~10-way parallelism for compute-heavy stages
# (windows) that AQE would otherwise have run wide — capped at the
# session default (one per core locally), never wider than the box
_SMALL_PLAN_PART_BYTES = 2 << 20
# large-mode initial shuffle partitions scale with the proven source
# bytes too (r12; guide §2.2/§2.5 "fewer, larger reduce partitions" via
# AQE coalescing from a data-sized INITIAL count): the default 32-way
# exchange gives a 900 MB sort-aggregate ~2 M rows per sort task, whose
# in-memory/spill boundary is a per-run memory-race lottery (r11
# measured dedup_keep_first 2.9-66 s across identical-code runs at the
# 100x decade). Seeding AQE's initialPartitionNum at ~one partition per
# 4 MiB of proven input lets the coalescer pick the final layout from
# ACTUAL shuffle bytes instead of inheriting the core-count default
# (measured at 100x, interleaved same-session A/B: median 4.84 -> 4.14 s).
# The cap bounds shuffle-block growth (M x R); at 100 TB the cap is what
# applies, and AQE still owns the final count. Small plans never see
# this (AQE is off below _SMALL_PLAN_BYTES).
_LARGE_INIT_PART_BYTES = 4 << 20
_LARGE_INIT_PART_CAP = 1024
_INIT_PARTS_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_tune_state: dict = {}


def _conf_get(spark, key):
    """Session conf value or None when unset (typed confs reject a
    string sentinel default, so absence is modeled as None)."""
    try:
        return spark.conf.get(key)
    except Exception:
        return None


def _conf_put(spark, key, value) -> None:
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


def _proven_bytes(sdf) -> int | None:
    """Summed leaf sizes of ``sdf``'s analyzed plan, or None when a
    leaf's size is unknown. Spark estimates a stats-less leaf (e.g. a
    ``LogicalRDD``) at ``spark.sql.defaultSizeInBytes`` (Long.MaxValue
    by default); summing that would put a tiny plan in large mode at
    the 1024-partition cap, and leave the cap set for whatever runs
    next."""
    leaves = sdf._jdf.queryExecution().analyzed().collectLeaves()
    # full sum (the only early exit is an unknown leaf): large mode
    # sizes its initial shuffle-partition count from the exact total
    total, unknown_at = 0, None
    for i in range(leaves.size()):
        size = int(leaves.apply(i).stats().sizeInBytes())
        if size >= _SMALL_PLAN_BYTES:
            if unknown_at is None:
                unknown_at = int(
                    sdf.sparkSession._jsparkSession.sessionState()
                    .conf().defaultSizeInBytes()
                )
            if size >= unknown_at:
                return None
        total += size
    return total


def tune_for_plan(sdf) -> None:
    """Set session exec knobs for ``sdf``'s size regime (idempotent).

    Called at the consumption boundary right before the caller runs an
    action. Session confs are read at physical-planning time (first
    action), so the mode chosen here governs the very next execution;
    queries materialize sequentially in practice, and a stale mode is
    a few-ms perf detail, never a correctness one (AQE on/off and the
    shuffle-partition count do not change results).
    """
    try:
        spark = sdf.sparkSession
        total = None if sdf.isStreaming else _proven_bytes(sdf)
        small = total is not None and total < _SMALL_PLAN_BYTES
        keys = (
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            _INIT_PARTS_KEY,
        )
        cur = {k: _conf_get(spark, k) for k in keys}
        # `applied` = the values WE set when entering small mode (None
        # when in default mode); `baseline` = the user's conf as of
        # small-mode entry, refreshed with any key the user changed
        # while small mode was live — so leaving small mode restores
        # the user's CURRENT intent, never a stale first-call snapshot
        # (r9 ADVICE: the one-time defaults snapshot clobbered later
        # user conf changes).
        applied = _tune_state.get("applied")
        if applied is not None:
            for k in keys:
                if cur[k] != applied[k]:  # user override while a mode was live
                    _tune_state["baseline"][k] = cur[k]
        if small:
            if applied is None:
                _tune_state["baseline"] = dict(cur)
            base = _tune_state["baseline"]
            default_parts = int(base["spark.sql.shuffle.partitions"])
            parts = min(default_parts, max(4, total // _SMALL_PLAN_PART_BYTES))
            want = {
                "spark.sql.adaptive.enabled": "false",
                "spark.sql.shuffle.partitions": str(parts),
                _INIT_PARTS_KEY: base[_INIT_PARTS_KEY],
            }
        elif total is not None:
            # large mode: AQE stays on; seed its coalescer with a
            # byte-derived initial partition count so per-task sort/agg
            # state stays bounded (spill-lottery fix, header comment)
            if applied is None:
                _tune_state["baseline"] = dict(cur)
            base = _tune_state["baseline"]
            default_parts = int(base["spark.sql.shuffle.partitions"])
            init = max(
                default_parts,
                min(total // _LARGE_INIT_PART_BYTES, _LARGE_INIT_PART_CAP),
            )
            want = {
                "spark.sql.adaptive.enabled": base["spark.sql.adaptive.enabled"],
                "spark.sql.shuffle.partitions": base[
                    "spark.sql.shuffle.partitions"
                ],
                _INIT_PARTS_KEY: str(init),
            }
        else:
            # unknown size (streaming / stats-less leaves): full restore
            if applied is None:
                return  # already in default mode — never touch user conf
            want = dict(_tune_state["baseline"])
        if applied == want:
            return
        for k, v in want.items():
            # skip keys already at the wanted value — this also lets a
            # user override made while a mode was live win (the
            # baseline fold-in above recorded it as the restore target)
            if cur[k] != v:
                _conf_put(spark, k, v)
        _tune_state["applied"] = (
            None if want == _tune_state.get("baseline") else want
        )
    except Exception:
        # tuning is best-effort: any plan shape it can't read (e.g. a
        # pure LocalRelation with no stats bridge) runs under whatever
        # mode is current — correct either way
        return


def _shuffle_partitions(cpus: str) -> int:
    # one partition per core, no floor: a stream's state partitions
    # come from this count, and more partitions than cores run every
    # stateful micro-batch in waves of state-store commits
    if cpus == "*":
        # local[*] sizes from the JVM's available processors, which
        # follow CPU affinity, not from the machine's core count
        return len(os.sched_getaffinity(0))
    try:
        return int(cpus)
    except ValueError:
        return 32

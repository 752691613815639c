"""Structured-Streaming operators (SURVEY.md §2.10 — net-new scope).

pandas is batch-only; the streaming analogs of its time-bucketing ops
(`resample` → tumbling window agg, overlapping `rolling` → sliding
window, dedup → state-TTL dedup) are designed here so the SAME
aggregation spec a batch `Resampler` takes also runs incrementally
under `readStream` with watermarks. No reference guidance exists for
late-data policy (SURVEY §7.3 item 7) — we follow Structured Streaming
norms: event-time watermark bounds state, late rows beyond it drop.

Everything is a plain transformation on a (possibly streaming) Spark
DataFrame, so Catalyst plans incremental partial/final aggregation and
the state store exactly as it would on a 1000-executor cluster; the
tests drive file-source → memory-sink with `availableNow` triggers.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame as SparkDF, SparkSession
from pandas_spark import fshim as F  # backtick-safe F.col facade
from pandas_spark.dtypes import qi
from pyspark.sql import types as T

from pandas_spark.groupby import resolve_agg
from pandas_spark.window import parse_offset_seconds


def read_stream_parquet(
    spark: SparkSession, path: str, schema=None,
    max_files_per_trigger: int | None = 1,
) -> SparkDF:
    """File-source stream over a parquet directory (micro-batch ingest —
    the streaming analog of chunked ``read_csv(chunksize=)``,
    readers.py:2399). Schema is required by streaming file sources; pass
    one or let us steal it from a batch peek. ns-precision timestamps
    convert to µs exactly as the batch reader does (sources/io.py)."""
    from pandas_spark.sources.io import _nanos_timestamp_cols

    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # streaming file sources accept directories or globs, not bare
        # files — turn the file path into an exact-match glob
        path = f"{path[:-1]}[{path[-1]}]"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        # one file per micro-batch (availableNow honors it): without
        # this, a bounded directory collapses into ONE batch and every
        # "cross-batch state" test is vacuously single-batch (r9-found)
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    sdf = reader.parquet(path)
    if ns_cols:
        sdf = sdf.withColumns(
            {c: F.timestamp_micros(F.expr(f"{qi(c)} div 1000")) for c in ns_cols}
        )
    return sdf


def read_stream_json(spark: SparkSession, path: str, schema=None) -> SparkDF:
    if schema is None:
        schema = spark.read.json(path).schema
    return spark.readStream.schema(schema).json(path)


def _with_watermark(sdf: SparkDF, on: str, watermark: str) -> SparkDF:
    """withWatermark for streams whose event-time column may be
    TIMESTAMP_NTZ (how unannotated parquet reads under Spark 4 defaults)
    — watermarks require TIMESTAMP, so cast first (wall clock in session
    tz; the container and every session here run UTC)."""
    if not sdf.isStreaming:
        return sdf
    if isinstance(sdf.schema[on].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn(on, F.col(on).cast("timestamp"))
    return sdf.withWatermark(on, watermark)


def _agg_exprs(spec: Mapping[str, object], dtmap: Mapping[str, str] | None = None) -> list[Column]:
    exprs: list[Column] = []
    dtmap = dict(dtmap or {})
    for col, fns in dict(spec).items():
        for fn in [fns] if isinstance(fns, str) else list(fns):
            exprs.append(resolve_agg(fn, col, dtmap.get(col)).alias(f"{col}_{fn}"))
    return exprs


def resample_stream(
    sdf: SparkDF,
    rule: str,
    on: str,
    spec: Mapping[str, object],
    by: Sequence[str] | None = None,
    watermark: str = "1 hour",
) -> SparkDF:
    """Streaming ``resample(rule).agg(spec)``: tumbling event-time
    window + watermark. Identical results to the batch Resampler when
    no rows arrive later than the watermark."""
    from pandas_spark.window import parse_anchored

    if parse_anchored(rule) is not None:
        raise NotImplementedError(
            f"resample_stream({rule!r}): calendar-anchored frequencies are "
            "batch-only (Structured Streaming F.window needs a fixed width); "
            "use a fixed-width rule, e.g. '7D' or '30D'"
        )
    secs = parse_offset_seconds(rule)
    src = _with_watermark(sdf, on, watermark)
    exprs = _agg_exprs(spec, dict(sdf.dtypes))
    grouped = src.groupBy(
        *(by or []), F.window(F.col(on), f"{secs} seconds").alias("__win__")
    ).agg(*exprs)
    agg_names = [c for c in grouped.columns if c not in set(by or []) | {"__win__"}]
    return grouped.select(
        *(by or []), F.col("__win__.start").alias(on), *agg_names
    )


def enrich_join_stream(
    stream: SparkDF,
    static: SparkDF,
    left_on: str,
    right_on: str,
    how: str = "inner",
) -> SparkDF:
    """Stream-static enrichment join: each micro-batch hash-joins
    against the (broadcast) static dimension — no state store, no
    watermark needed; the static side is re-read per batch only if its
    source changes. The 100 TB shape: dims broadcast, the stream never
    shuffles for the join."""
    return stream.join(
        F.broadcast(static), stream[left_on] == static[right_on], how
    )


def sliding_window_stream(
    sdf: SparkDF,
    size: str,
    slide: str,
    on: str,
    spec: Mapping[str, object],
    by: Sequence[str] | None = None,
    watermark: str = "1 hour",
) -> SparkDF:
    """Overlapping windows (the streaming analog of time-based
    ``rolling``): each row lands in size/slide windows."""
    src = _with_watermark(sdf, on, watermark)
    w = F.window(
        F.col(on),
        f"{parse_offset_seconds(size)} seconds",
        f"{parse_offset_seconds(slide)} seconds",
    )
    grouped = src.groupBy(*(by or []), w.alias("__win__")).agg(*_agg_exprs(spec, dict(sdf.dtypes)))
    agg_names = [c for c in grouped.columns if c not in set(by or []) | {"__win__"}]
    return grouped.select(
        *(by or []),
        F.col("__win__.start").alias("window_start"),
        F.col("__win__.end").alias("window_end"),
        *agg_names,
    )


def session_window_stream(
    sdf: SparkDF,
    gap: str,
    on: str,
    spec: Mapping[str, object],
    by: Sequence[str] | None = None,
    watermark: str = "1 hour",
) -> SparkDF:
    """Session windows (gap-based) — pandas has no analog (SURVEY
    §2.10 'free extra'); sessionization is core to event pipelines."""
    src = _with_watermark(sdf, on, watermark)
    w = F.session_window(F.col(on), f"{parse_offset_seconds(gap)} seconds")
    grouped = src.groupBy(*(by or []), w.alias("__win__")).agg(*_agg_exprs(spec, dict(sdf.dtypes)))
    agg_names = [c for c in grouped.columns if c not in set(by or []) | {"__win__"}]
    return grouped.select(
        *(by or []),
        F.col("__win__.start").alias("session_start"),
        F.col("__win__.end").alias("session_end"),
        *agg_names,
    )


def dedup_stream(
    sdf: SparkDF,
    subset: Sequence[str],
    on: str | None = None,
    watermark: str = "1 hour",
) -> SparkDF:
    """Streaming ``drop_duplicates(subset)``. With an event-time column
    the watermark bounds dedup state (state TTL — keys older than the
    watermark are evicted); without one, state grows unboundedly and is
    only suitable for bounded key domains."""
    if sdf.isStreaming and on is not None:
        return _with_watermark(sdf, on, watermark).dropDuplicatesWithinWatermark(list(subset))
    return sdf.dropDuplicates(list(subset))


def exact_dedup_stream(
    sdf: SparkDF,
    text_col: str = "text",
    on: str | None = None,
    watermark: str = "24 hours",
) -> SparkDF:
    """Streaming exact content dedup: hash the payload (32-byte state
    key, not the document) then keep the first arrival per hash."""
    hashed = sdf.withColumn("__h__", F.md5(F.col(text_col)))
    return dedup_stream(hashed, ["__h__"], on=on, watermark=watermark).drop("__h__")


def heavy_hitters_stream(
    sdf: SparkDF,
    keys: Sequence[str],
    on: str,
    rule: str = "1h",
    min_count: int = 1,
    watermark: str = "1 hour",
) -> SparkDF:
    """Streaming heavy-hitter detection — the live twin of
    ``diagnostics.skew_report``: per event-time window, emit every key
    whose row count reaches ``min_count`` (hot users, hot join keys,
    abuse spikes) as ``(window_start, keys..., cnt)``.

    Watermark-bounded tumbling-window counts, so the state store holds
    only open windows and results append exactly once per closed
    window. The threshold is an absolute count (a per-window share
    would need a second aggregation joined against the first, which
    streaming disallows; callers wanting share divide by the known
    window volume downstream). Batch twin: ``groupBy(window(ts),
    keys).count()`` — parity-tested."""
    secs = parse_offset_seconds(rule)
    src = _with_watermark(sdf, on, watermark)
    key_list = list(keys)
    out = (
        src.groupBy(
            F.window(F.col(on), f"{secs} seconds").alias("__win__"), *key_list
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return out.select(F.col("__win__.start").alias(on), *key_list, "cnt")


def run_to_memory(
    stream: SparkDF,
    name: str,
    output_mode: str = "append",
    timeout: int = 120,
) -> None:
    """Drive a streaming plan to completion over currently-available
    input (`availableNow` trigger) into an in-memory table — the test /
    backfill harness. Production sinks swap in kafka/parquet/delta
    writeStream with the same plan."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"stream {name} did not finish in {timeout}s")


def running_agg_stream(
    sdf: SparkDF,
    keys: Sequence[str],
    value_col: str,
    order_col: str,
) -> SparkDF:
    """Streaming ``groupby().cumsum()/cumcount()`` — a custom stateful
    operator via ``applyInPandasWithState`` (SURVEY §2.10: running
    aggregates need per-key state that outlives a micro-batch).

    State per key = (running_sum, running_count), carried across
    micro-batches; within a batch rows are ordered by ``order_col``.
    Emits every input row extended with ``running_sum``/``running_count``
    (append mode). On a bounded source with one batch this equals the
    batch ``cumsum`` exactly — the parity test in tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_fields = [f for f in sdf.schema.fields if f.name in set(keys)]
    out_schema = (
        ", ".join(f"{qi(f.name)} {f.dataType.simpleString()}" for f in sdf.schema.fields)
        + ", `running_sum` double, `running_count` bigint"
    )
    state_schema = "s double, c bigint"
    in_cols = [f.name for f in sdf.schema.fields]

    def fn(key, pdfs, state):
        if state.exists:
            s, c = state.get
        else:
            s, c = 0.0, 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(order_col, kind="stable")
        vals = pdf[value_col].fillna(0.0)
        pdf["running_sum"] = vals.cumsum() + s
        pdf["running_count"] = pdf[value_col].notna().cumsum().astype("int64") + c
        state.update((float(pdf["running_sum"].iloc[-1]), int(pdf["running_count"].iloc[-1])))
        yield pdf[in_cols + ["running_sum", "running_count"]]

    return (
        sdf.groupBy(*keys)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout,
        )
    )


def ewm_mean_stream(
    sdf: SparkDF,
    keys: Sequence[str],
    value_col: str,
    order_col: str,
    alpha: float,
    adjust: bool = True,
) -> SparkDF:
    """Streaming EWM mean — the incremental twin of pandas'
    ``ewm.online`` (reference window/ewm.py:413
    ``OnlineExponentialMovingWindow``, pandas' one online operator).

    Per-key state = the (numerator, denominator) of the weighted-mean
    recursion, carried across micro-batches::

        adjust=True:  numₜ = xₜ + (1−α)·numₜ₋₁ ;  denₜ = 1 + (1−α)·denₜ₋₁
                      mean = num/den           (pandas ewm default)
        adjust=False: mₜ  = α·xₜ + (1−α)·mₜ₋₁  (den pinned at 1)

    NULL values emit the current mean and leave state untouched
    (pandas ``ignore_na=True`` semantics — the online-friendly rule).
    Within a batch rows are ordered by ``order_col``; on a bounded
    single-batch source the output equals the batch
    :func:`pandas_spark.window.ewm_mean` exactly (parity test in
    tests/test_streaming.py)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        ", ".join(f"{qi(f.name)} {f.dataType.simpleString()}" for f in sdf.schema.fields)
        + f", {qi(value_col + '_ewm')} double"
    )
    state_schema = "num double, den double"
    in_cols = [f.name for f in sdf.schema.fields]
    a = float(alpha)

    def fn(key, pdfs, state):
        num, den = state.get if state.exists else (0.0, 0.0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(order_col, kind="stable")
        vals = pdf[value_col].to_numpy(dtype="float64", na_value=np.nan)
        out = np.empty(len(vals))
        for i, x in enumerate(vals):
            if not np.isnan(x):
                if adjust:
                    num = x + (1.0 - a) * num
                    den = 1.0 + (1.0 - a) * den
                else:
                    num = x if den == 0.0 else a * x + (1.0 - a) * num
                    den = 1.0
            out[i] = num / den if den else np.nan
        pdf[f"{value_col}_ewm"] = out
        state.update((float(num), float(den)))
        yield pdf[in_cols + [f"{value_col}_ewm"]]

    return (
        sdf.groupBy(*keys)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout,
        )
    )


# The latest-right asof regime groups by a hash bucket of its keys, not
# by key: ONE applyInPandasWithState call per bucket per micro-batch.
# Most of a per-key call's cost was PySpark's per-group framework work
# (Arrow → pandas, state (de)serialisation, output conversion), not the
# asof itself, so fewer, larger groups are what pays.
# Sweep on perfbench stream_replay (4 cores, ~1,500 keys, 3 batches,
# --trace 1, seeds 1 and 2), op.merge_asof_stream.p50_s: per key
# 2.86/3.42 s, 16 buckets 1.50/1.58 s, 64 buckets 1.57/1.60 s, 256
# buckets 1.92/1.81 s. 64 is as fast as 16 and leaves the stateful
# stage 64 tasks of parallelism on a cluster; more buckets drift back
# toward the per-key cost. Each touched bucket's state is rewritten
# whole: ~(touched buckets × keys/_ASOF_BUCKETS × row bytes) per batch.
_ASOF_BUCKETS = 64


def _asof_bucket(by: Sequence[str]) -> Column:
    """The state bucket of a row: ``pmod(xxhash64(by…), _ASOF_BUCKETS)``."""
    return F.pmod(F.xxhash64(*[F.col(qi(k)) for k in by]), F.lit(_ASOF_BUCKETS))


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _state_cast(t: str):
    """Python value → the value an ``array<t>`` state field stores.

    Integral columns arrive as exact ``Decimal``s (``_exact_integrals``),
    which an integral state field does not take as they are. Cast back
    to the state type; unwrap numpy scalars."""
    if t in _INTEGRAL:
        return int
    if t in ("float", "double"):
        return float
    return lambda v: v.item() if hasattr(v, "item") else v


def _exact_integrals(u: SparkDF, cols) -> tuple[SparkDF, list]:
    """``u`` with every integral column of ``cols`` cast to
    ``decimal(20,0)``, and the names of those columns.

    PySpark hands pandas an integral column as float64 whenever its
    batch holds a NULL, which rounds values above 2**53. The asof union
    NULL-pads each side's columns, and a bucket's frame can mix a NULL
    key with other keys, so these columns travel as exact decimals;
    ``_state_cast`` and the output restore them to Python ints."""
    types = dict(u.dtypes)
    ints = [c for c in cols if types[c] in _INTEGRAL]
    return u.withColumns({c: F.col(qi(c)).cast("decimal(20,0)") for c in ints}), ints


def _asof_union(left, right, on, by, suffixes):
    """Both asof regimes' input: left and right tagged by ``__side__``
    (right 0, left 1), each padded with typed NULLs for the other
    side's columns, and unioned. Returns (union, right payload cols,
    left non-key cols, left types, right types)."""
    overlap = (set(left.columns) & set(right.columns)) - {on} - set(by)
    l = left.withColumnsRenamed({c: c + suffixes[0] for c in overlap})
    r = right.withColumnsRenamed({c: c + suffixes[1] for c in overlap})
    payload = [c for c in r.columns if c != on and c not in by]
    l_cols = [c for c in l.columns if c != on and c not in by]
    r_types = dict(r.dtypes)
    l_types = dict(l.dtypes)
    l_tag = l.selectExpr(
        "*", "1 AS `__side__`",
        *[f"CAST(NULL AS {r_types[c]}) AS {qi(c)}" for c in payload],
    )
    r_tag = r.selectExpr(
        "*", "0 AS `__side__`",
        *[f"CAST(NULL AS {l_types[c]}) AS {qi(c)}" for c in l_cols],
    )
    return l_tag.unionByName(r_tag), payload, l_cols, l_types, r_types


def merge_asof_stream(
    left: SparkDF,
    right: SparkDF,
    on: str,
    by: Sequence[str],
    tolerance: str | None = None,
    suffixes: tuple[str, str] = ("_l", "_r"),
    direction: str = "backward",
    lateness: str | None = None,
) -> SparkDF:
    """Streaming ``merge_asof`` — the stateful twin of the batch
    union+ordered-window plan (operators/joins.py): SURVEY §2.10's
    "merge_asof ≙ stream-stream asof join w/ watermark" mapping.

    Two regimes (round-9: the r8 version's ordered-arrival contract is
    now OPT-OUT, not silent):

    * ``lateness=None`` and ``direction='backward'`` — the fast path:
      the state keeps the latest right row seen per key; per-key
      arrival must be batch-ordered (the ``ewm_mean_stream``
      contract — log-ordered sources). A late right row would
      silently corrupt later matches, which is why the buffered
      regime below exists. Keys are grouped into ``_ASOF_BUCKETS``
      hash buckets (``pmod(xxhash64(by…), _ASOF_BUCKETS)``): one
      stateful call per bucket per micro-batch, one state row per
      bucket holding each of its keys' latest right row as parallel
      arrays. Each touched bucket's state is rewritten whole, so a
      sparse trickle over a huge key space writes more state per
      batch than per-key state would (SCALE.md).
    * ``lateness='10 minutes'`` — watermark-buffered, ANY direction:
      per key the state holds every row still inside the lateness
      horizon (event-time watermark = max stamp seen − lateness,
      exactly Structured Streaming's own watermark rule). A left row
      EMITS only when its match provably cannot change:
      backward — its stamp has passed the watermark (any future right
      is newer than the row itself); forward — the current candidate
      has passed the watermark (any future right is newer than the
      candidate), or ``tolerance`` has expired past the watermark;
      nearest — both bounds hold (the best gap is within the
      watermark's reach, so no future row can beat it). Output is
      sorted by stamp on emit. Rows newer than the FINAL watermark of
      a bounded run stay pending — honest streaming semantics, the
      price of tolerating disorder; size state by lateness, which also
      bounds the buffers. (A forward/nearest left with no candidate
      and no tolerance pends until one arrives — set tolerance to
      bound it.) Rows later than the lateness horizon are dropped by
      Spark's own watermark filter and COUNTED in the query progress
      metrics (``lastProgress["stateOperators"][0]
      ["numRowsDroppedByWatermark"]``) — monitor that counter to size
      ``lateness`` against the source's real disorder.

    ``tolerance`` nulls matches farther than the offset. Positional
    tie rule matches pandas: among equal right stamps backward takes
    the LAST arrival, forward the FIRST."""
    by = list(by)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    if lateness is None and direction != "backward":
        raise ValueError(
            "forward/nearest need the buffered regime — pass lateness= "
            "(use '0 seconds' for a source that is globally ordered)"
        )
    # boundary shield (r9, dtypes.collision_renames): the regimes tag
    # rows with `__side__`/`__bucket__` and name state `__ts__` — a user
    # column of those names must survive
    from pandas_spark.dtypes import collision_renames

    _shield = collision_renames(
        set(left.columns) | set(right.columns),
        {"__side__", "__ts__", "__bucket__"},
    )
    if _shield:
        left = left.withColumnsRenamed(_shield)
        right = right.withColumnsRenamed(_shield)
        on = _shield.get(on, on)
        by = [_shield.get(k, k) for k in by]
    if lateness is not None:
        out = _merge_asof_stream_buffered(
            left, right, on, by, direction, tolerance, lateness, suffixes,
        )
    else:
        out = _merge_asof_stream_latest(left, right, on, by, tolerance, suffixes)
    return out.withColumnsRenamed({v: k for k, v in _shield.items()}) if _shield else out


def _merge_asof_stream_latest(
    left: SparkDF,
    right: SparkDF,
    on: str,
    by: list,
    tolerance: str | None,
    suffixes: tuple,
) -> SparkDF:
    """The latest-right asof regime (see merge_asof_stream), one
    stateful call per key bucket.

    State per bucket: one array per ``by`` column, ``__ts__`` (int64
    epoch-µs) and one array per right payload column — entry i is key
    i's latest right row. Each call sorts the bucket's batch rows by
    (key, stamp, side) with the carried rows first in their key; a
    left's match is then the last right (or carried) row before it in
    its key — a groupwise running max over right positions."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    u0, payload, _, _, r_types = _asof_union(left, right, on, by, suffixes)
    u_types = dict(u0.dtypes)
    out_fields = [f for f in u0.schema.fields if f.name != "__side__"]
    out_schema = ", ".join(
        f"{qi(f.name)} {f.dataType.simpleString()}" for f in out_fields
    )
    out_cols = [f.name for f in out_fields]
    # keys, left columns and payload: integral ones are grouped, stored
    # and emitted exactly
    u, int_cols = _exact_integrals(
        u0.withColumn("__bucket__", _asof_bucket(by)),
        [c for c in out_cols if c != on],
    )
    carried = [*by, *payload]
    state_schema = ", ".join(
        [f"{qi(k)} array<{u_types[k]}>" for k in by]
        + ["`__ts__` array<bigint>"]
        + [f"{qi(c)} array<{r_types[c]}>" for c in payload]
    )
    casts = {c: _state_cast(u_types[c]) for c in carried}
    tol_us = (
        int(parse_offset_seconds(tolerance.replace(" ", "")) * 1_000_000)
        if tolerance is not None else None
    )
    nb = len(by)
    NEG = np.iinfo("int64").min

    def fn(key, pdfs, state):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        ts = pdf[on].to_numpy(dtype="datetime64[us]").astype("int64")
        side = pdf["__side__"].to_numpy(dtype="int64")
        rows = pdf[carried]
        m = 0
        if state.exists:
            # carried rows: side -1 and a NEG sort stamp put them first
            # in their key, so any in-batch right at or before a left
            # wins over them (the latest-right contract)
            st = list(state.get)
            ts_c = st.pop(nb)
            m = len(ts_c)
            carry = pd.DataFrame(
                {c: pd.Series(v, dtype=object) for c, v in zip(carried, st)}
            )
            rows = pd.concat([carry, rows], ignore_index=True)
            ts = np.concatenate([np.asarray(ts_c, dtype="int64"), ts])
            side = np.concatenate([np.full(m, -1, dtype="int64"), side])
        # NULL keys group together, as Spark's per-key grouping does
        gid = rows.groupby(by, dropna=False, sort=False).ngroup().to_numpy()
        # stable: among equal stamps rights keep frame order, so the
        # running max picks the LAST arrival (pandas' backward rule)
        o = np.lexsort((side, np.where(side < 0, NEG, ts), gid))
        g = gid[o]
        pos = np.arange(len(o))
        first = np.r_[True, g[1:] != g[:-1]]
        start = np.maximum.accumulate(np.where(first, pos, 0))
        last_r = np.maximum.accumulate(np.where(side[o] <= 0, pos, -1))
        last_r = np.where(last_r >= start, last_r, -1)  # reset per key

        is_l = side[o] == 1
        li = o[is_l]
        mi = last_r[is_l]
        has = mi >= 0
        src = o[np.where(has, mi, 0)]
        if tol_us is not None:
            has &= ts[li] - ts[src] <= tol_us
        lefts = pdf.take(li - m).reset_index(drop=True)
        for c in payload:
            vals = rows[c].to_numpy(dtype=object)[src]
            vals[~has] = None
            lefts[c] = pd.Series(vals).astype(lefts[c].dtype, errors="ignore")
        for k in int_cols:
            lefts[k] = pd.Series(
                [None if pd.isna(v) else int(v) for v in lefts[k]], dtype=object
            )

        if (side == 0).any():
            # new state: each key's last right-or-carried row
            ends = np.r_[g[1:] != g[:-1], True]
            keep = last_r[ends]
            keep = o[keep[keep >= 0]]
            kept = rows.take(keep)
            cols = []
            for c in carried:
                cast = casts[c]
                cols.append([None if pd.isna(v) else cast(v)
                             for v in kept[c].tolist()])
            cols.insert(nb, ts[keep].tolist())
            state.update(tuple(cols))
        if len(lefts):
            yield lefts[out_cols]

    return (
        u.groupBy("__bucket__")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout,
        )
    )


def _merge_asof_stream_buffered(
    left: SparkDF,
    right: SparkDF,
    on: str,
    by: list,
    direction: str,
    tolerance: str | None,
    lateness: str,
    suffixes: tuple,
) -> SparkDF:
    """The watermark-buffered asof regime (see merge_asof_stream).

    Per-key state = (max stamp seen, arrival counter, pending-left
    buffer, right buffer within the lateness horizon) as ARRAY-typed
    state columns. Each micro-batch: append arrivals (any order!),
    advance the event-time watermark, finalize every left row whose
    match can no longer change, emit those sorted by stamp, prune the
    right buffer to the horizon plus ONE carry row (the latest right
    at-or-under the horizon — the backward candidate for future
    lefts). All stamps compare as int64 epoch-µs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    u0, payload, l_cols, l_types, r_types = _asof_union(left, right, on, by, suffixes)
    # Spark's GLOBAL event-time watermark drives finalization (a
    # per-key "max seen − lateness" would never advance for a key with
    # no new arrivals — r9 fuzz-found): withWatermark feeds
    # state.getCurrentWatermarkMs(), and EventTimeTimeout re-invokes
    # idle keys once the watermark passes their earliest pending
    # decision stamp (Structured Streaming runs no-data micro-batches
    # to fire these, including before an availableNow run terminates).
    # NTZ event time casts first; buffered integral columns stay exact
    u, _ = _exact_integrals(_with_watermark(u0, on, lateness), [*l_cols, *payload])

    # output schema from the PRE-cast union: the watermark cast is an
    # internal requirement, the caller keeps the source's ts flavor
    out_fields = [f for f in u0.schema.fields if f.name != "__side__"]
    out_schema = ", ".join(
        f"{qi(f.name)} {f.dataType.simpleString()}" for f in out_fields
    )
    out_cols = [f.name for f in out_fields]
    # buffers: stamps+arrival-seq as long arrays, one value array per
    # buffered column (left non-key cols; right payload cols)
    state_schema = (
        "seq long, l_ts array<long>, l_seq array<long>, "
        + "r_ts array<long>, r_seq array<long>"
        + "".join(f", `__l_{c}` array<{l_types[c]}>" for c in l_cols)
        + "".join(f", `__r_{c}` array<{r_types[c]}>" for c in payload)
    )
    tol_us = (
        int(parse_offset_seconds(tolerance.replace(" ", "")) * 1_000_000)
        if tolerance is not None else None
    )
    NEG = np.iinfo("int64").min
    l_cast = {c: _state_cast(l_types[c]) for c in l_cols}
    r_cast = {c: _state_cast(r_types[c]) for c in payload}

    def fn(key, pdfs, state):
        if state.exists:
            st = state.get
            seq0 = int(st[0])
            l_ts = list(st[1]); l_seq = list(st[2])
            r_ts = list(st[3]); r_seq = list(st[4])
            l_bufs = {c: list(st[5 + i]) for i, c in enumerate(l_cols)}
            r_bufs = {
                c: list(st[5 + len(l_cols) + i]) for i, c in enumerate(payload)
            }
        else:
            seq0 = 0
            l_ts, l_seq, r_ts, r_seq = [], [], [], []
            l_bufs = {c: [] for c in l_cols}
            r_bufs = {c: [] for c in payload}

        parts = list(pdfs)  # empty on an event-time-timeout invocation
        pdf = (
            pd.concat(parts, ignore_index=True)
            if parts else pd.DataFrame({c: [] for c in out_cols + ["__side__"]})
        )
        if len(pdf):
            ts_us = pdf[on].to_numpy(dtype="datetime64[us]").astype("int64")
            is_r = (pdf["__side__"] == 0).to_numpy()
            for i in range(len(pdf)):
                t = int(ts_us[i])
                row = pdf.iloc[i]
                if is_r[i]:
                    r_ts.append(t); r_seq.append(seq0)
                    for c in payload:
                        v = row[c]
                        r_bufs[c].append(None if pd.isna(v) else r_cast[c](v))
                else:
                    l_ts.append(t); l_seq.append(seq0)
                    for c in l_cols:
                        v = row[c]
                        l_bufs[c].append(None if pd.isna(v) else l_cast[c](v))
                seq0 += 1

        wm_ms = state.getCurrentWatermarkMs()
        # a future row can carry a stamp EQUAL to the watermark
        # (Spark drops only strictly-late data), so decisions use
        # strict comparisons: wm here is "greatest stamp that can no
        # longer be beaten", i.e. watermark − 1µs
        wm = wm_ms * 1000 - 1 if wm_ms > 0 else NEG // 2
        # sort the right buffer by (ts, arrival) — stable positional
        # tie rule: backward takes the last arrival among equal
        # stamps, forward the first
        r_order = sorted(range(len(r_ts)), key=lambda i: (r_ts[i], r_seq[i]))
        rts = np.array([r_ts[i] for i in r_order], dtype="int64")

        lts = np.array(l_ts, dtype="int64")

        def at(idx, valid):
            # rts[idx] where valid, 0 elsewhere (safe on empty buffers)
            if not len(rts):
                return np.zeros(len(lts), dtype="int64")
            return rts[np.clip(idx, 0, len(rts) - 1)] * valid

        if direction == "backward":
            bidx = np.searchsorted(rts, lts, side="right") - 1
            has = bidx >= 0
            gap = np.where(has, lts - at(bidx, has), 0)
            fin = lts <= wm
            use_idx = np.where(has, bidx, -1)
        elif direction == "forward":
            fidx = np.searchsorted(rts, lts, side="left")
            has = fidx < len(rts)
            cand = at(fidx, has)
            gap = np.where(has, cand - lts, 0)
            fin = has & (cand <= wm)
            if tol_us is not None:
                fin = fin | (lts + tol_us <= wm)
            use_idx = np.where(has, fidx, -1)
        else:  # nearest: smaller gap wins, tie -> backward (pandas)
            bidx = np.searchsorted(rts, lts, side="right") - 1
            fidx = np.searchsorted(rts, lts, side="left")
            has_b = bidx >= 0
            has_f = fidx < len(rts)
            BIG = np.int64(np.iinfo("int64").max)
            bgap = np.where(has_b, lts - at(bidx, has_b), BIG)
            fgap = np.where(has_f, at(fidx, has_f) - lts, BIG)
            if tol_us is not None:
                # pandas rule: tolerance RESTRICTS the candidate set
                # BEFORE picking the nearest — a within-tolerance far
                # side beats an out-of-tolerance near side (matches the
                # batch path's b_ok/f_ok gating, operators/joins.py)
                has_b = has_b & (bgap <= tol_us)
                has_f = has_f & (fgap <= tol_us)
                bgap = np.where(has_b, bgap, BIG)
                fgap = np.where(has_f, fgap, BIG)
            use_b = has_b & (~has_f | (bgap <= fgap))
            has = has_b | has_f
            gap = np.where(has, np.minimum(bgap, fgap), 0)
            use_idx = np.where(use_b, bidx, np.where(has_f, fidx, -1))
            # no future row (stamp > wm, so gap > wm - lts) can beat
            # the current best once that best is within the horizon
            fin = (lts <= wm) & has & (gap <= wm - lts)
            if tol_us is not None:
                fin = fin | ((lts <= wm) & (lts + tol_us <= wm))
        if tol_us is not None:
            oob = gap > tol_us
        else:
            oob = np.zeros(len(lts), dtype=bool)
        matched = (use_idx >= 0) & ~oob & fin

        emit = None
        if fin.any():
            order = np.lexsort((np.array(l_seq, dtype="int64")[fin],
                                lts[fin]))
            sel = np.flatnonzero(fin)[order]
            data = {}
            data[on] = pd.to_datetime(lts[sel], unit="us")
            for c in l_cols:
                arr = np.array(l_bufs[c], dtype=object)
                data[c] = arr[sel]
            for pi, c in enumerate(payload):
                vals = np.array([r_bufs[c][r_order[k]] if k >= 0 else None
                                 for k in use_idx], dtype=object)
                vals[~matched] = None
                data[c] = vals[sel]
            emit = pd.DataFrame(data)
            for i, k in enumerate(by):
                emit[k] = key[i]
            emit = emit[[c for c in out_cols]]

        # shrink buffers: drop finalized lefts; prune rights to the
        # horizon + one carry row under it
        keep_l = np.flatnonzero(~fin)
        l_ts2 = [l_ts[i] for i in keep_l]
        l_seq2 = [l_seq[i] for i in keep_l]
        l_bufs2 = {c: [l_bufs[c][i] for i in keep_l] for c in l_cols}
        thresh = min([wm] + l_ts2) if l_ts2 else wm
        keep_r, carry = [], None
        for pos, i in enumerate(r_order):
            if r_ts[i] >= thresh:
                keep_r.append(i)
            else:
                carry = i  # r_order is (ts, seq)-ascending: last wins
        if carry is not None:
            keep_r = [carry] + keep_r
        r_ts2 = [r_ts[i] for i in keep_r]
        r_seq2 = [r_seq[i] for i in keep_r]
        r_bufs2 = {c: [r_bufs[c][i] for i in keep_r] for c in payload}

        if not l_ts2 and not r_ts2:
            if state.exists:
                state.remove()
            if emit is not None and len(emit):
                yield emit
            return
        state.update((
            int(seq0), l_ts2, l_seq2, r_ts2, r_seq2,
            *[l_bufs2[c] for c in l_cols],
            *[r_bufs2[c] for c in payload],
        ))
        # event-time timer: wake this key when the watermark passes its
        # earliest pending DECISION stamp, so lefts finalize even if no
        # further data arrives for the key. Decision per pending left:
        # backward — its own stamp; forward/nearest — candidate stamp
        # (or stamp+gap) and/or the tolerance expiry.
        if l_ts2:
            decisions = []
            lt2 = np.array(l_ts2, dtype="int64")
            if direction == "backward":
                decisions.append(int(lt2.min()))
            else:
                if tol_us is not None:
                    decisions.append(int((lt2 + tol_us).min()))
                rt2 = np.array(sorted(r_ts2), dtype="int64")
                if direction == "forward":
                    fi = np.searchsorted(rt2, lt2, side="left")
                    hf = fi < len(rt2)
                    if hf.any():
                        decisions.append(
                            int(rt2[np.clip(fi[hf], 0, len(rt2) - 1)].min())
                        )
                else:  # nearest: wake at stamp + best-known gap
                    bi = np.searchsorted(rt2, lt2, side="right") - 1
                    fi = np.searchsorted(rt2, lt2, side="left")
                    BIG = np.int64(np.iinfo("int64").max // 4)
                    bg = np.where(bi >= 0, lt2 - rt2[np.clip(bi, 0, max(len(rt2) - 1, 0))], BIG) if len(rt2) else np.full(len(lt2), BIG)
                    fg = np.where(fi < len(rt2), rt2[np.clip(fi, 0, max(len(rt2) - 1, 0))] - lt2, BIG) if len(rt2) else np.full(len(lt2), BIG)
                    g = np.minimum(bg, fg)
                    ok = g < BIG
                    if ok.any():
                        decisions.append(int((lt2 + g)[ok].min()))
            if decisions:
                # fire strictly after the decision stamp clears the
                # watermark; must also be > current watermark or Spark
                # rejects the timestamp
                fire_ms = max(min(decisions) // 1000 + 1, wm_ms + 1)
                state.setTimeoutTimestamp(fire_ms)
        if emit is not None and len(emit):
            yield emit

    return (
        u.groupBy(*by)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def tolerance_join_stream(
    left: SparkDF,
    right: SparkDF,
    on: str,
    by: Sequence[str],
    tolerance: str = "30 minutes",
    watermark: str = "1 hour",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> SparkDF:
    """Stream-stream time-bounded join — the streaming analog of
    ``merge_asof(tolerance=)`` (SURVEY §2.10: asof ↦ stream-stream join
    with a time-range condition + watermarks).

    Emits every right row within ``(left.ts - tolerance, left.ts]`` per
    key (the full candidate set; an exact latest-only asof needs custom
    state — ``running_agg_stream`` shows that pattern). Watermarks on
    BOTH sides bound the join state so Spark can evict old rows.
    """
    secs = parse_offset_seconds(tolerance.replace(" ", ""))
    lw = _with_watermark(left, on, watermark)
    rw = _with_watermark(right, on, watermark)
    overlap = (set(left.columns) & set(right.columns)) - set(by)
    l = lw.withColumnsRenamed({c: c + suffixes[0] for c in overlap})
    # right side: rename EVERYTHING incl. keys so the equality predicate
    # survives until after the join (stream-stream joins require it)
    r = rw.withColumnsRenamed(
        {**{c: c + suffixes[1] for c in overlap}, **{k: k + suffixes[1] for k in by}}
    )
    lts, rts = f"{on}{suffixes[0]}", f"{on}{suffixes[1]}"
    cond = None
    for k in by:
        term = l[k] == r[k + suffixes[1]]
        cond = term if cond is None else cond & term
    cond = (
        cond
        & (r[rts] <= l[lts])
        & (r[rts] > l[lts] - F.expr(f"INTERVAL {secs} seconds"))
    )
    return l.join(r, cond, "inner").drop(*[k + suffixes[1] for k in by])


def kmeans_stream(
    sdf: SparkDF,
    vec_col: str,
    init_centroids: Sequence[Sequence[float]],
    order_col: str | None = None,
) -> SparkDF:
    """Streaming mini-batch k-means (Sculley 2010, "Web-Scale K-Means
    Clustering"): centroids live in stream state and every arriving
    vector (a) is assigned to its nearest centroid — emitted as
    ``cell`` — then (b) nudges that centroid with the per-center
    learning rate 1/n_c. The online twin of
    ``operators.clustering.kmeans`` the same way ``ewm_mean_stream``
    twins the batch ewm.

    Global-model state is a SINGLE state group by construction (the
    same sequential constraint Sculley's algorithm has — each update
    depends on all prior ones); the batch operator is the distributed
    path, this is the incremental one. State = flattened centroid
    matrix + per-center counts, carried across micro-batches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    C0 = np.asarray(init_centroids, dtype=np.float64)
    k, dim = C0.shape
    out_schema = (
        ", ".join(f"{qi(f.name)} {f.dataType.simpleString()}" for f in sdf.schema.fields)
        + ", `cell` int"
    )
    state_schema = "c array<double>, n array<bigint>"
    in_cols = [f.name for f in sdf.schema.fields]

    def fn(key, pdfs, state):
        if state.exists:
            c_flat, counts = state.get
            C = np.asarray(c_flat, dtype=np.float64).reshape(k, dim)
            n = np.asarray(counts, dtype=np.int64).copy()
        else:
            C = C0.copy()
            n = np.zeros(k, dtype=np.int64)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if order_col is not None:
            pdf = pdf.sort_values(order_col, kind="stable")
        cells = np.empty(len(pdf), dtype=np.int32)
        for i, v in enumerate(pdf[vec_col]):
            x = np.asarray(v, dtype=np.float64)
            j = int(((C - x) ** 2).sum(axis=1).argmin())
            cells[i] = j
            n[j] += 1
            eta = 1.0 / n[j]
            C[j] += eta * (x - C[j])
        pdf["cell"] = cells
        state.update(([float(x) for x in C.ravel()], [int(x) for x in n]))
        yield pdf[in_cols + ["cell"]]

    return (
        sdf.withColumn("__g__", F.lit(0))
        .groupBy("__g__")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout,
        )
    )

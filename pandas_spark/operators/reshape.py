"""Reshape operators: melt/pivot/pivot_table/crosstab/dummies/cut/qcut.

References: pandas/core/reshape/melt.py:45 (melt),
reshape/pivot.py:59 (pivot_table, 1,357 LoC incl. margins),
reshape/pivot.py:982 (crosstab), reshape/encoding.py:44 (get_dummies),
reshape/tile.py:59 (cut) / :298 (qcut).

All compile to built-in Spark ops: native ``unpivot`` for melt,
``groupBy().pivot()`` for spread, ``rollup`` unions for margins,
``width_bucket``/percentile bounds for binning. Pivot column values
are discovered with a distinct scan when not supplied — at 100 TB
callers should pass ``values=`` to skip it (documented).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, Window as W
from pandas_spark import fshim as F  # backtick-safe F.col facade

from pandas_spark.dtypes import qi
from pandas_spark.frame import DataFrame
from pandas_spark.groupby import resolve_agg

# driver-side collect cap for implicit pivot/dummy value discovery —
# beyond this, callers must pass the value list (SCALE.md)
_MAX_PIVOT_VALUES = 10_000

# memo for implicit pivot-value discovery: Spark's groupBy().pivot(col)
# with no explicit values runs its own distinct-collect JOB before
# planning. The distinct set is a pure function of the input plan AND
# the underlying data, so the key is (analyzed-plan semantic hash,
# column, data fingerprint): the fingerprint is the plan's file-index
# snapshot — each input file's path+size+mtime — so overwriting a
# parquet path and re-running the identical pivot MISSES the cache
# (r9 ADVICE: semanticHash alone is data-independent and served stale
# columns). Plans with no input files are cached only when fully
# local (from_pandas LocalRelation — immutable in-session); external
# non-file sources (JDBC) are never cached. Invalidation hook:
# clear_pivot_values_cache().
_PIVOT_VALUES_CACHE: dict = {}


def clear_pivot_values_cache() -> None:
    """Drop all memoized implicit pivot-value sets (e.g. after
    rewriting a source a cached pivot read)."""
    _PIVOT_VALUES_CACHE.clear()


def _pivot_cache_key(sdf, column: str):
    """(semanticHash, column, file fingerprint) or None = uncacheable."""
    import os

    try:
        files = sorted(sdf.inputFiles())
        if not files and not sdf.isLocal():
            return None  # external non-file source — may change under us
        sig = []
        for f in files:
            p = f[7:] if f.startswith("file:") else f
            try:
                st = os.stat(p)
                sig.append((f, st.st_size, st.st_mtime_ns))
            except OSError:
                sig.append((f, -1, -1))
        sem = sdf._jdf.queryExecution().analyzed().semanticHash()
        return (sem, column, tuple(sig))
    except Exception:
        return None


def _pivot_values(sdf, column: str, explicit) -> list:
    if explicit:
        return list(explicit)
    key = _pivot_cache_key(sdf, column)
    if key is not None:
        hit = _PIVOT_VALUES_CACHE.get(key)
        if hit is not None:
            return hit
    rows = (
        sdf.select(column)
        .distinct()
        .orderBy(column)
        .limit(_MAX_PIVOT_VALUES + 1)
        .collect()
    )
    if len(rows) > _MAX_PIVOT_VALUES:
        raise ValueError(
            f"pivot: column {column!r} has more than {_MAX_PIVOT_VALUES} "
            "distinct values; pass column_values= explicitly"
        )
    vals = [r[0] for r in rows if r[0] is not None]
    if key is not None:
        if len(_PIVOT_VALUES_CACHE) > 256:
            _PIVOT_VALUES_CACHE.clear()
        _PIVOT_VALUES_CACHE[key] = vals
    return vals


def melt(
    frame: DataFrame,
    id_vars: Sequence[str] | None = None,
    value_vars: Sequence[str] | None = None,
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    ids = list(id_vars or [])
    vals = list(value_vars or [c for c in frame.columns if c not in ids])
    sdf = frame.spark
    # Spark's native unpivot needs a common type — cast numerics to double
    types = dict(sdf.dtypes)
    num = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    from pandas_spark._planmemo import plan_memo

    tgt = "double" if all(types[v].split("(")[0] in num for v in vals) else "string"
    base = sdf
    sdf = plan_memo(
        base, "melt_cast", (tgt, tuple(vals)), None,
        lambda: base.withColumns({v: F.col(v).cast(tgt) for v in vals}),
    )
    src = sdf
    out = plan_memo(
        src, "unpivot", (tuple(ids), tuple(vals), var_name, value_name),
        None,
        lambda: src.unpivot(ids, vals, var_name, value_name),
    )
    return DataFrame(out)


# aggfuncs safe to compile as conditional aggregates: null-skipping,
# order-independent. first/last (arrival-order) and callables fall
# back to Spark's .pivot.
_PIVOT_COMPILE_AGGS = frozenset(
    {"sum", "mean", "avg", "min", "max", "count", "size", "var", "std",
     "sem", "prod", "product", "median", "nunique", "any", "all"}
)
# funcs whose empty-input result differs from their all-NULL-input
# result (count/size/nunique → 0; identity-coalesced sum/prod/any/all
# → the identity). Spark's .pivot leaves a MISSING (idx, pval) cell
# NULL (PivotFirst default) — the compiled form must match, so these
# get a matching-row-count gate.
_PIVOT_EMPTY_WRAP = frozenset(
    {"sum", "prod", "product", "count", "size", "nunique", "any", "all"}
)


def _pivot_compiled(sdf, idx, columns, pvals, vals, fns, dtmap, bounds,
                    multi, alias_fn):
    """Compile groupBy().pivot().agg() to ONE conditional-aggregate
    HashAggregate, or None to fall back to Spark's .pivot.

    Spark's .pivot with composite aggregates (the exact decimal-moment
    sum kernels) takes Catalyst's generic rewrite: an inner Aggregate
    over (idx, pivot_col) + a PivotFirst outer Aggregate — TWO
    shuffles. With the pivot values known (column_values= or the
    fingerprint memo), the pandas-equivalent single-pass form is
    ``agg(f(CASE WHEN col = pv THEN value END) ...)`` — one map-side
    projection fused into one HashAggregate, one shuffle (measured
    0.51 → 0.30 s on the sf0.1 pivot_sum line). Cell naming and
    MISSING-cell NULLs reproduce Spark's .pivot exactly (gate on
    matching-row count for funcs whose empty≠all-NULL result).
    Reference: pandas reshape/pivot.py:59 pivot_table semantics."""
    from pandas_spark.dtypes import free_name

    if not all(isinstance(pv, str) for pv in pvals):
        return None  # non-string labels: Spark's repr naming varies
    if not set(fns) <= _PIVOT_COMPILE_AGGS:
        return None
    taken = list(sdf.columns)
    proj: dict[str, Column] = {}
    cells: list[Column] = []
    for j, pv in enumerate(pvals):
        match = F.col(columns) == F.lit(pv)
        mname = free_name(taken, f"__pm{j}__")
        taken.append(mname)
        proj[mname] = F.when(match, F.lit(1))
        for v in vals:
            cname = free_name(taken, f"__pc{j}{v}__")
            taken.append(cname)
            proj[cname] = F.when(match, F.col(v))
            cb = {cname: bounds[v]} if bounds and v in bounds else None
            for f in fns:
                label = f"{pv}_{alias_fn(v, f)}" if multi else str(pv)
                expr = resolve_agg(f, cname, dtmap.get(v), cb)
                if f in _PIVOT_EMPTY_WRAP:
                    expr = F.when(F.count(F.col(mname)) > 0, expr)
                cells.append(expr.alias(label))
    from pandas_spark._planmemo import plan_memo

    projected = plan_memo(
        sdf, "withColumns", tuple(proj), list(proj.values()),
        lambda: sdf.withColumns(proj),
    )
    kcols = [F.col(c) for c in idx]
    return plan_memo(
        projected, "groupby_agg", tuple(idx), kcols + cells,
        lambda: projected.groupBy(*kcols).agg(*cells),
    )


def pivot_table(
    frame: DataFrame,
    values: str | Sequence[str],
    index: str | Sequence[str],
    columns: str,
    aggfunc: str | Sequence[str] = "mean",
    fill_value=None,
    margins: bool = False,
    margins_name: str = "All",
    column_values: Sequence | None = None,
) -> DataFrame:
    """``pd.pivot_table``. ``aggfunc`` may be a list (pandas' multi-agg
    pivot). Pass ``column_values`` to skip the distinct scan."""
    idx = [index] if isinstance(index, str) else list(index)
    vals = [values] if isinstance(values, str) else list(values)
    fns = [aggfunc] if isinstance(aggfunc, str) else list(aggfunc)
    sdf = frame.spark
    dtmap = dict(sdf.dtypes)
    multi = len(vals) > 1 or len(fns) > 1
    bounds = getattr(frame, "_bounds", None)

    def _alias(v: str, f: str) -> str:
        # pandas' MultiIndex (aggfunc, values, colvalue) flattens to
        # "<colvalue>_<values>_<aggfunc>" under Spark pivot naming
        return f"{v}_{f}" if len(fns) > 1 else v

    def agg_exprs():
        if not multi:
            return [resolve_agg(fns[0], vals[0], dtmap.get(vals[0]), bounds)]
        return [
            resolve_agg(f, v, dtmap.get(v), bounds).alias(_alias(v, f))
            for v in vals
            for f in fns
        ]

    def margin_exprs():
        # single value+fn keeps the bare margins_name column (pandas'
        # "All"); multi gets one margin column per (value, fn)
        return [
            resolve_agg(f, v, dtmap.get(v), bounds).alias(
                f"{margins_name}_{_alias(v, f)}" if multi else margins_name
            )
            for v in vals
            for f in fns
        ]

    pvals = _pivot_values(sdf, columns, column_values)
    out = _pivot_compiled(sdf, idx, columns, pvals, vals, fns, dtmap, bounds, multi, _alias)
    if out is None:
        out = sdf.groupBy(*idx).pivot(columns, pvals).agg(*agg_exprs())
    if margins:
        # margin column(s): per-index-row total over all pivot values
        # (reference reshape/pivot.py:59 _add_margins; naming rules
        # core/apply.py:1888 flattened to engine columns)
        col_total = sdf.groupBy(*idx).agg(*margin_exprs())
        out = out.join(col_total, idx, "left")
        # margin row: per-pivot-value totals + the grand total cell(s)
        row_piv = _pivot_compiled(
            sdf, [], columns, pvals, vals, fns, dtmap, bounds, multi, _alias
        )
        if row_piv is None:
            row_piv = sdf.groupBy().pivot(columns, pvals).agg(*agg_exprs())
        grand = sdf.groupBy().agg(*margin_exprs())
        gcols = grand.columns
        row = row_piv.crossJoin(grand).select(
            *[F.lit(margins_name).alias(c) for c in idx],
            *[F.col(c) for c in row_piv.columns],
            *[F.col(c) for c in gcols],
        )
        out = out.unionByName(row, allowMissingColumns=True)
    if fill_value is not None:
        data_cols = [c for c in out.columns if c not in idx]
        out = out.na.fill(fill_value, subset=data_cols)
    return DataFrame(out)


def pivot(
    frame: DataFrame,
    index: str | Sequence[str],
    columns: str,
    values: str,
    strict: bool = False,
) -> DataFrame:
    """``pd.pivot`` — spread without aggregation (first() on unique cells).

    ``strict=True`` matches pandas' posture (reference
    reshape/pivot.py:747 raises "Index contains duplicate entries,
    cannot reshape"): any index×column cell holding more than one row
    raises instead of silently taking first(). One extra count
    aggregation over the same grouping — same shuffle key, cheap."""
    idx = [index] if isinstance(index, str) else list(index)
    if strict:
        dup = (
            frame.spark.groupBy(*idx, columns)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "Index contains duplicate entries, cannot reshape "
                "(some index×column cell has >1 row; use pivot_table to aggregate)"
            )
    sdf0 = frame.spark
    out = sdf0.groupBy(*idx).pivot(columns, _pivot_values(sdf0, columns, None)).agg(F.first(values))
    return DataFrame(out)


def crosstab(
    frame: DataFrame,
    index: str,
    columns: str,
    normalize: bool | str = False,
    values: str | None = None,
    aggfunc: str | None = None,
    margins: bool = False,
    margins_name: str = "All",
) -> DataFrame:
    """Frequency table (pivot.py:982); normalize ∈ {False,'all','index','columns'}.
    ``values=``/``aggfunc=`` aggregate a value column per cell instead of
    counting (pandas crosstab's pivot_table mode — empty cells stay NULL
    there, unlike the count mode's 0). ``margins=True`` adds the row/
    column totals; the full pandas normalize × margins matrix (r11):
    'all' keeps BOTH margins divided by the grand total (corner = 1.0),
    'index' keeps only the margin ROW (overall column distribution),
    'columns' keeps only the margin COLUMN (overall row distribution) —
    each reduces to "extend the raw counts with the margin, then apply
    the plain normalize rule", which is how it's built here (verified
    against pandas in tests). values=/aggfunc= with margins stays out
    of scope (loud raise)."""
    if (values is None) != (aggfunc is None):
        raise ValueError("pass values= and aggfunc= together")
    if margins:
        if values is not None:
            raise NotImplementedError(
                "crosstab margins= with values=/aggfunc= is out of scope "
                "(count mode only)"
            )
        base = crosstab(frame, index, columns)
        data_cols = [c for c in base.columns if c != index]
        sdf = base.spark
        row_total = sum((F.col(c) for c in data_cols), F.lit(0))
        if normalize == "index":
            # margin ROW only: append raw column totals, then
            # row-normalize everything (the All row's own total is the
            # grand total, so it lands on col_sums/grand — pandas' rule)
            totals = sdf.agg(*[F.sum(c).alias(c) for c in data_cols]).select(
                F.lit(margins_name).alias(index), "*"
            )
            un = sdf.unionByName(totals)
            rt = sum((F.col(c) for c in data_cols), F.lit(0))
            return DataFrame(
                un.select(index, *[(F.col(c) / rt).alias(c) for c in data_cols])
            )
        sdf = sdf.select("*", row_total.alias(margins_name))
        if normalize == "columns":
            # margin COLUMN only: the All column's sum is the grand
            # total, so plain column-normalize covers it too. The
            # pivoted table is tiny (≤ _MAX_PIVOT_VALUES rows) — the
            # single-partition window is bounded by construction.
            w = W.partitionBy()
            return DataFrame(
                sdf.select(
                    index,
                    *[
                        (F.col(c) / F.sum(c).over(w)).alias(c)
                        for c in data_cols + [margins_name]
                    ],
                )
            )
        # margin row: one aggregate over the (tiny) pivoted table
        totals = sdf.agg(
            *[F.sum(c).alias(c) for c in data_cols + [margins_name]]
        ).select(F.lit(margins_name).alias(index), "*")
        un = sdf.unionByName(totals)
        if normalize in ("all", True):
            grand = sdf.agg(F.sum(margins_name).alias("__t__"))
            return DataFrame(
                un.crossJoin(F.broadcast(grand)).select(
                    index,
                    *[
                        (F.col(c) / F.col("__t__")).alias(c)
                        for c in data_cols + [margins_name]
                    ],
                )
            )
        if normalize:
            raise ValueError(f"unknown normalize {normalize!r}")
        return DataFrame(un)
    if values is not None:
        from pandas_spark.groupby import resolve_agg

        dt = dict(frame.dtypes).get(values)
        out = frame.spark.groupBy(index).pivot(
            columns, _pivot_values(frame.spark, columns, None)
        ).agg(
            resolve_agg(aggfunc, values, dt)
        )
        if normalize:
            raise ValueError("normalize is only for the count mode")
        return DataFrame(out)
    out = frame.spark.groupBy(index).pivot(
        columns, _pivot_values(frame.spark, columns, None)
    ).agg(F.count(F.lit(1)))
    data_cols = [c for c in out.columns if c != index]
    out = out.na.fill(0, subset=data_cols)
    if normalize:
        if normalize in ("all", True):
            total = sum((F.sum(c) for c in data_cols), F.lit(0))
            totals = out.agg(total.alias("__t__"))
            out = out.crossJoin(F.broadcast(totals)).select(
                index, *[(F.col(c) / F.col("__t__")).alias(c) for c in data_cols]
            )
        elif normalize == "index":
            row_total = sum((F.col(c) for c in data_cols), F.lit(0))
            out = out.select(index, *[(F.col(c) / row_total).alias(c) for c in data_cols])
        elif normalize == "columns":
            w = W.partitionBy()
            out = out.select(
                index, *[(F.col(c) / F.sum(c).over(w)).alias(c) for c in data_cols]
            )
    return DataFrame(out)


def get_dummies(
    frame: DataFrame,
    columns: Sequence[str],
    prefix_sep: str = "_",
    dtype: str = "int",
    categories: Mapping[str, Sequence] | None = None,
    drop_first: bool = False,
    dummy_na: bool = False,
) -> DataFrame:
    """One-hot encode (encoding.py:44). Pass ``categories`` to skip the
    distinct scans (required at scale). ``drop_first`` drops the first
    (sorted) category per column — the k-1 encoding; ``dummy_na`` adds
    a ``<col><sep>nan`` indicator for missing values (reference
    encoding.py get_dummies signature).

    Category discovery is single-pass (r11): ONE approx_count_distinct
    guard job over all encoded columns (bounded HLL sketches — raises
    loudly before anything large materializes), then ONE stacked
    explode→collect_set job per column DTYPE group — 2 jobs for the
    typical all-string call instead of k (one distinct scan per
    column). Typed values throughout, so drop_first's sorted-first
    category matches pandas on numeric columns."""
    sdf = frame.spark
    need = [c for c in columns if not (categories and c in categories)]
    discovered = _multi_column_distincts(sdf, need) if need else {}
    new_cols: dict[str, Column] = {}
    for c in columns:
        if categories and c in categories:
            vals = list(categories[c])
        else:
            vals = discovered[c]
        if drop_first:
            vals = vals[1:]
        for v in vals:
            # NULL input rows one-hot to 0 in pandas (encoding.py:
            # missing is simply "not this category"), but Spark's
            # NULL == v is NULL — coalesce to the zero of the dtype
            new_cols[f"{c}{prefix_sep}{v}"] = F.coalesce(
                (F.col(c) == F.lit(v)).cast(dtype), F.lit(0).cast(dtype)
            )
        if dummy_na:
            new_cols[f"{c}{prefix_sep}nan"] = F.col(c).isNull().cast(dtype)
    keep = [c for c in sdf.columns if c not in set(columns)]
    return DataFrame(sdf.select(*keep, *[e.alias(n) for n, e in new_cols.items()]))


def _multi_column_distincts(sdf, need: Sequence[str]) -> dict[str, list]:
    """Sorted distinct non-null values for several columns in O(1) jobs.

    Job 1 — ONE aggregate of approx_count_distinct over every column:
    HLL sketch state is O(1) per partition at any scale, so a
    high-cardinality column raises loudly BEFORE any set materializes
    (the 2× slack covers the sketch's ~5% rsd; borderline columns get
    the exact check below). Job 2..G — one per column DTYPE group
    (values must share a Spark type to ride one exploded struct
    array): explode (col_name, value) pairs map-side, drop nulls,
    groupBy(col_name).collect_set — partial sets are ≤2×cap per
    column by the guard, the shuffle carries ≤G×2×cap rows."""
    dtmap = dict(sdf.dtypes)
    ests = (
        sdf.agg(
            *[F.approx_count_distinct(c).alias(f"e{i}") for i, c in enumerate(need)]
        ).collect()[0]
    )
    for i, c in enumerate(need):
        if ests[i] > _MAX_PIVOT_VALUES * 2:
            raise ValueError(
                f"get_dummies: column {c!r} has more than {_MAX_PIVOT_VALUES} "
                "distinct values; pass categories= explicitly"
            )
    by_dtype: dict[str, list[str]] = {}
    for c in need:
        by_dtype.setdefault(dtmap[c], []).append(c)
    out: dict[str, list] = {}
    for cols_dt in by_dtype.values():
        pairs = sdf.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(c).alias("k"), F.col(c).alias("v"))
                        for c in cols_dt
                    ]
                )
            ).alias("s")
        ).select("s.k", "s.v")
        rows = (
            pairs.where(F.col("v").isNotNull())
            .groupBy("k")
            .agg(F.sort_array(F.collect_set("v")).alias("vs"))
            .collect()
        )
        got = {r["k"]: list(r["vs"]) for r in rows}
        for c in cols_dt:
            vals = got.get(c, [])
            if len(vals) > _MAX_PIVOT_VALUES:
                raise ValueError(
                    f"get_dummies: column {c!r} has more than "
                    f"{_MAX_PIVOT_VALUES} distinct values; pass categories= "
                    "explicitly"
                )
            out[c] = vals
    return out


def cut(
    frame: DataFrame,
    col: str,
    bins: Sequence[float],
    labels: Sequence[str] | None = None,
    right: bool = True,
    alias: str | None = None,
    include_lowest: bool = False,
) -> DataFrame:
    """``pd.cut`` with explicit edges (tile.py:59) — a chained-when expression
    (codegen'd; no UDF). Out-of-range → NULL, matching pandas.
    ``include_lowest=True`` closes the FIRST interval on the left
    (pandas tile.py: the qcut default). ``labels=False`` returns the
    integer bin CODES (0-based), pandas parity — distinct from
    ``labels=None`` (interval strings)."""
    name = alias or f"{col}_bin"
    c = F.col(col)
    codes = labels is False
    expr = F.lit(None).cast("int" if codes else "string")
    n = len(bins) - 1
    for i in range(n - 1, -1, -1):
        lo, hi = bins[i], bins[i + 1]
        first_closed = right and include_lowest and i == 0
        if right:
            pred = ((c >= lo) if first_closed else (c > lo)) & (c <= hi)
        else:
            pred = (c >= lo) & (c < hi)
        if codes:
            label = i
        elif labels:
            label = labels[i]
        elif right:
            label = f"[{lo}, {hi}]" if first_closed else f"({lo}, {hi}]"
        else:
            label = f"[{lo}, {hi})"
        expr = F.when(pred, F.lit(label)).otherwise(expr)
    return frame._with(frame._sdf.withColumn(name, expr))


def qcut(
    frame: DataFrame,
    col: str,
    q: int | Sequence[float],
    labels: Sequence[str] | None = None,
    alias: str | None = None,
    duplicates: str = "raise",
) -> DataFrame:
    """``pd.qcut``. Integer ``q`` → exact equal-count tiling (below).
    A LIST of quantiles (e.g. ``[0, .25, .5, .75, 1]``) computes the
    exact linear-interpolated percentile edges (one JVM percentile
    aggregate, bounded scalar receipt) and bins right-closed with the
    lowest edge included — pandas tile.py semantics, including
    ``duplicates='raise'/'drop'`` on degenerate edges."""
    if not isinstance(q, int):
        qs = [float(x) for x in q]
        row = frame._sdf.agg(
            F.expr(f"percentile({qi(col)}, array({', '.join(str(x) for x in qs)}))").alias("e")
        ).first()
        edges = list(row["e"])
        dedup = sorted(set(edges))
        if len(dedup) < len(edges):
            if duplicates != "drop":
                raise ValueError(
                    f"Bin edges must be unique: {edges}; pass duplicates='drop'"
                )
            edges = dedup
        return cut(
            frame, col, edges, labels=labels, right=True,
            alias=alias or f"{col}_qbin", include_lowest=True,
        )
    return _qcut_int(frame, col, q, labels, alias)


def _qcut_int(
    frame: DataFrame,
    col: str,
    q: int,
    labels: Sequence[str] | None = None,
    alias: str | None = None,
) -> DataFrame:
    """``pd.qcut`` (tile.py:298) → equal-count tiling over the value
    order — one pass, no percentile pre-computation.

    NULLs are excluded from the binning (pandas drops NaN before
    computing quantile edges): ordering puts nulls LAST and the tile is
    computed from the row's rank among the ``count(col)`` NON-NULL rows
    with ntile's split rule (first ``n % q`` tiles get the extra row) —
    a plain ``ntile(q)`` would let null rows occupy the lowest slots
    and shift every boundary."""
    name = alias or f"{col}_qbin"
    w = W.orderBy(F.col(col).asc_nulls_last())
    rn = F.row_number().over(w).cast("long")
    n = F.count(F.col(col)).over(W.partitionBy())
    s = F.floor(n / q)                      # base tile size
    r = n % q                               # tiles carrying one extra row
    boundary = r * (s + 1)
    tile = F.when(rn <= boundary, F.ceil(rn / (s + 1))).otherwise(
        r + F.ceil((rn - boundary) / s)
    ).cast("int")
    if labels:
        mapping = F.array(*[F.lit(l) for l in labels])
        val = F.element_at(mapping, tile)
    else:
        val = tile - 1
    out = frame._sdf.withColumn(
        name, F.when(F.col(col).isNotNull(), val)
    )
    return frame._with(out)


def wide_to_long(
    frame: DataFrame,
    stubnames: Sequence[str],
    i: str | Sequence[str],
    j: str,
    sep: str = "",
) -> DataFrame:
    """``pd.wide_to_long`` (melt.py:374): stub-prefixed wide columns →
    long rows keyed by (i, j). Compiled to a single ``stack`` expression
    — one pass, no joins."""
    ids = [i] if isinstance(i, str) else list(i)
    stubs = list(stubnames)
    sdf = frame.spark
    # suffixes present for the first stub define the j values
    suffixes = sorted(
        {c[len(stubs[0]) + len(sep):] for c in sdf.columns if c.startswith(stubs[0] + sep)}
    )
    pairs = []
    for sfx in suffixes:
        row = [F.lit(sfx)]
        for stub in stubs:
            colname = f"{stub}{sep}{sfx}"
            row.append(F.col(colname) if colname in sdf.columns else F.lit(None))
        pairs.append(F.struct(*[e.alias(f"_{k}") for k, e in enumerate(row)]))
    exploded = sdf.select(*ids, F.explode(F.array(*pairs)).alias("__s__"))
    out = exploded.select(
        *ids,
        F.col("__s__._0").alias(j),
        *[F.col(f"__s__._{k+1}").alias(stub) for k, stub in enumerate(stubs)],
    )
    return DataFrame(out)


def json_normalize(frame: DataFrame, column: str, prefix: str | None = None) -> DataFrame:
    """Flatten a struct column into top-level columns (pandas
    ``json_normalize`` on parsed records → ``select(col('s.*'))``)."""
    sdf = frame.spark
    fields = [f.name for f in sdf.schema[column].dataType.fields]
    p = prefix if prefix is not None else f"{column}."
    out = sdf.select(
        *[c for c in sdf.columns if c != column],
        *[F.col(f"{column}.{f}").alias(f"{p}{f}" if p else f) for f in fields],
    )
    return DataFrame(out)


def from_dummies(
    frame: DataFrame,
    prefix: str,
    prefix_sep: str = "_",
    alias: str | None = None,
) -> DataFrame:
    """Inverse of get_dummies (encoding.py:409): indicator columns back
    to one categorical column (greatest-of chained whens, no UDF)."""
    sdf = frame.spark
    dummy_cols = [c for c in sdf.columns if c.startswith(prefix + prefix_sep)]
    if not dummy_cols:
        raise ValueError(f"no columns with prefix {prefix!r}")
    expr = F.lit(None).cast("string")
    for c in reversed(dummy_cols):
        val = c[len(prefix) + len(prefix_sep):]
        expr = F.when(F.col(c) == 1, F.lit(val)).otherwise(expr)
    keep = [c for c in sdf.columns if c not in set(dummy_cols)]
    return DataFrame(sdf.select(*keep, expr.alias(alias or prefix)))


def lreshape(
    frame: DataFrame,
    groups: "dict[str, Sequence[str]]",
    dropna: bool = True,
) -> DataFrame:
    """``pd.lreshape`` (reshape/melt.py:287): stack position-aligned
    column groups into long rows — the i-th source column of every
    group feeds the i-th stacked slice. Compiled as a union of
    projections (Catalyst collapses it into one scan per slice)."""
    names = list(groups)
    lists = [list(groups[k]) for k in names]
    n = len(lists[0])
    if any(len(l) != n for l in lists):
        raise ValueError("all lreshape groups need the same number of columns")
    stacked_sources = {c for l in lists for c in l}
    keep = [c for c in frame.columns if c not in stacked_sources]
    sdf = frame.spark
    slices = [
        sdf.select(
            *keep, *[F.col(lists[j][i]).alias(names[j]) for j in range(len(names))]
        )
        for i in range(n)
    ]
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    if dropna:
        out = out.na.drop(subset=names)
    return DataFrame(out)


def cat_codes(col, categories: Sequence) -> "F.Column":
    """Ordered-categorical codes (arrays/categorical.py:257): position
    of the value in the declared category order, −1 for unlisted (the
    pandas code for NaN/unknown). ``array_position`` over a literal
    array — a JVM lookup, no join, no UDF; sort on the code column to
    get ordered-categorical sort semantics (SURVEY §1.3 plan)."""
    from pandas_spark.expr import _unwrap

    c = _unwrap(col)
    arr = F.array(*[F.lit(v) for v in categories])
    return (F.array_position(arr, c) - 1).cast("int")

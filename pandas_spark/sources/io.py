"""Readers/writers: pandas' IO surface on Spark datasources.

pandas readers (reference: pandas/io/parsers/readers.py:1045 read_csv,
io/parquet.py:548 read_parquet, io/json/_json.py:524 read_json) are
format libraries returning eager frames; here each maps to the native
Spark datasource — distributed scan, schema inference, predicate
pushdown and column pruning via Catalyst, partition pruning on
directory layouts. Option names follow pandas where a 1:1 mapping
exists (sep, header, names, usecols, dtype, nrows, ...).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import SparkSession

from pandas_spark.frame import DataFrame
from pandas_spark.dtypes import to_spark_type


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — a driver-side footer
    read only (no data). Spark has no ns timestamp type (µs is the
    engine precision, SURVEY §1.3); these are read as long and converted."""
    try:
        import pyarrow.dataset as pads
        import pyarrow as pa
        import pyarrow.parquet as pq

        ds = pads.dataset(path, format="parquet")
        schema = ds.schema
        ns_cols = [
            f.name
            for f in schema
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
        ]
        if not ns_cols:
            return []
        # INT96 timestamps (Spark's legacy default output) also surface
        # as ns in Arrow but Spark reads them natively — only annotated
        # int64 TIMESTAMP(NANOS) columns need the long+convert path
        first = next(iter(ds.files), None)
        if first is not None:
            pf = pq.ParquetFile(first).schema
            phys = {pf.column(i).name: pf.column(i).physical_type for i in range(len(pf))}
            ns_cols = [c for c in ns_cols if phys.get(c) != "INT96"]
        return ns_cols
    except Exception:
        return []


# (session, path, mtime-signature) -> base scan DataFrame. Re-reading
# the same static table re-ran a pyarrow footer probe AND a JVM file
# listing + schema read per call (~80 ms/table — 40% of a broadcast
# star-join's wall at the 100x decade was plan construction). A real
# deployment gets this from catalog-table metadata caching; local
# paths get it here. The signature invalidates on overwrite: for a
# plain file or flat directory of files, the root (mtime, size) plus
# each immediate child's (name, mtime) changes when any file is added,
# replaced, or rewritten in place. PARTITIONED layouts (any immediate
# subdirectory) are NEVER cached: rewriting path/part=X/ (dynamic
# partition overwrite) doesn't touch the root's mtime, nested levels
# can change without any visible top-level mtime moving, and caching
# would also hide the partition-pruning FileScan behind an
# InMemoryRelation. clear_scan_cache() is the explicit escape hatch.
_SCAN_CACHE: dict = {}

# footer-proven tables of at most this many rows (and 1 MiB on disk)
# become driver-local relations
_LOCAL_REL_ROWS = 2000
# on-disk bytes above which a table never enters the buffer pool
_CACHE_MAX_BYTES = 64 << 20
# rows per cached buffer-pool partition (~one Arrow batch)
_POOL_PART_ROWS = 65536


def clear_scan_cache() -> None:
    """Drop the parquet scan-metadata cache (all sessions, all paths),
    unpersisting any buffer-pool-cached small scans."""
    for sdf, *_ in _SCAN_CACHE.values():
        try:
            _unpersist_pool_entry(sdf)
        except Exception:
            pass
    _SCAN_CACHE.clear()


def _path_bytes(path: str) -> int:
    """Total on-disk bytes of a parquet file/directory (one scandir)."""
    import os

    try:
        if os.path.isdir(path):
            return sum(
                e.stat().st_size for e in os.scandir(path) if e.is_file()
            )
        return os.stat(path).st_size
    except OSError:
        return 0


def _max_cell_bytes(path: str) -> float:
    """Largest per-row average uncompressed width over BYTE_ARRAY
    (string/binary) columns, from the parquet footer (first file is
    representative — same schema/encoder across a write). Used to keep
    WIDE-CELL text tables (free-text corpora) out of the buffer pool:
    Spark's in-memory columnar cache decodes large string cells slower
    than the vectorized parquet reader does — persisting a text corpus
    is a measured ~2x LOSS even when it fits the size cap. Fixed-width
    numeric/date/array<numeric> columns return 0: those decode FASTER
    from the columnar cache (measured on the embeddings table), so a
    numeric dimension or vector table always qualifies."""
    try:
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        files = list(pads.dataset(path, format="parquet").files)
        if not files:
            return float("inf")
        md = pq.ParquetFile(files[0]).metadata
        per_col: dict[str, int] = {}
        stat_w = 0.0
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.physical_type == "BYTE_ARRAY":
                    per_col[col.path_in_schema] = (
                        per_col.get(col.path_in_schema, 0)
                        + col.total_uncompressed_size
                    )
                    # page-bytes/rows UNDERSTATES the logical width on
                    # dictionary-encoded duplicates (a 100x-replicated
                    # corpus stores each unique text once — measured
                    # 302 -> 3.0 "bytes/cell" on the same texts, which
                    # let a text corpus into the pool at the 100x
                    # decade and cost 2.5x per run). The column
                    # statistics' extreme VALUES are logical, so their
                    # length is a duplication-proof width floor.
                    st = col.statistics
                    for v in (
                        (st.min, st.max) if st and st.has_min_max else ()
                    ):
                        if v is not None:
                            stat_w = max(stat_w, float(len(v)))
        rows = md.num_rows or 1
        return max(
            max(per_col.values()) / rows if per_col else 0.0, stat_w
        )
    except Exception:
        return float("inf")


def _path_signature(path: str):
    """Invalidation key for the scan cache, or None = uncacheable.

    None for any directory containing subdirectories (partitioned
    layout): partition overwrites don't move the root mtime, and those
    scans must keep their partition-pruning FileScan anyway.
    """
    import os

    try:
        st = os.stat(path)
        sig = (st.st_mtime_ns, st.st_size)
        if os.path.isdir(path):
            children = []
            for e in os.scandir(path):
                if e.is_dir(follow_symlinks=False):
                    return None
                children.append(
                    (e.name, e.stat(follow_symlinks=False).st_mtime_ns)
                )
            sig = (sig, tuple(sorted(children)))
        return sig
    except OSError:
        return None


def _footer_proofs(path: str, max_files: int = 1024) -> tuple[frozenset, dict, int | None]:
    """(null-free columns, double-column bounds, exact row count)
    proven by parquet footer metadata, in ONE footer sweep.

    * rows: sum of per-file num_rows (always present in the footer —
      no statistics required); None = unknown (too many files /
      unreadable). Downstream this rides the frame as ``rows_max``, an
      UPPER bound that row-reducing ops preserve — joins/unions/
      explodes drop it — letting planners skip bounded-size pre-passes
      (e.g. the broadcast-left anti's distinct) without a count job.

    * null-free: null_count == 0 in every row group of every file.
    * bounds {col: (lo, hi, nan_free)}: DOUBLE/FLOAT columns whose
      min/max are present and FINITE in every row group — both
      parquet-cpp (pyarrow) and parquet-mr include ±Infinity in
      min/max when present, so finite stats prove inf-freedom.
      NaN-freedom is writer-dependent (bounds.py): parquet-mr orders
      NaN as the largest double (finite max ⇒ no NaN); parquet-cpp
      IGNORES NaN in min/max, proving nothing — so nan_free also
      requires every file's created_by to be parquet-mr.

    Driver-side footer reads only (~2 ms/file, computed once per
    (path, mtime) via the scan cache) — skipped beyond ``max_files``
    so a 100 TB many-thousand-file table never pays an unbounded
    driver-side footer sweep (the proofs are an optimization, never a
    requirement; a catalog deployment gets the same from table
    statistics)."""
    import math

    try:
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        files = list(pads.dataset(path, format="parquet").files)
        if not files or len(files) > max_files:
            return frozenset(), {}, None
        proven: set | None = None
        ranges: dict | None = None
        all_mr = True
        rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            if not (md.created_by or "").startswith("parquet-mr"):
                all_mr = False
            file_ok: set | None = None
            file_rng: dict | None = None
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                rg_ok = set()
                rg_rng: dict = {}
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if "." in name:  # nested leaf — skip
                        continue
                    st = col.statistics
                    if st is None:
                        continue
                    if st.null_count == 0:
                        rg_ok.add(name)
                    if (
                        col.physical_type in ("DOUBLE", "FLOAT")
                        and st.has_min_max
                        and isinstance(st.min, float)
                        and isinstance(st.max, float)
                        and math.isfinite(st.min)
                        and math.isfinite(st.max)
                    ):
                        rg_rng[name] = (st.min, st.max)
                    elif (
                        # INTEGER bounds (r11): INT32/INT64 min/max feed
                        # the packed-order-key dedup fast path and
                        # interval arithmetic; inf/NaN don't exist for
                        # ints so the nan_free flag is trivially true
                        col.physical_type in ("INT32", "INT64")
                        and st.has_min_max
                        and isinstance(st.min, int)
                        and isinstance(st.max, int)
                    ):
                        rg_rng[name] = (st.min, st.max)
                # a column must be proven in EVERY row group
                file_ok = rg_ok if file_ok is None else (file_ok & rg_ok)
                file_rng = rg_rng if file_rng is None else {
                    c: (min(a[0], b[0]), max(a[1], b[1]))
                    for c, a in file_rng.items()
                    if (b := rg_rng.get(c)) is not None
                }
            file_ok = file_ok or set()
            file_rng = file_rng or {}
            proven = file_ok if proven is None else (proven & file_ok)
            ranges = file_rng if ranges is None else {
                c: (min(a[0], b[0]), max(a[1], b[1]))
                for c, a in ranges.items()
                if (b := file_rng.get(c)) is not None
            }
        bounds = {
            # ints can't hold NaN — trivially nan_free whatever the writer
            c: (lo, hi, all_mr or isinstance(lo, int))
            for c, (lo, hi) in (ranges or {}).items()
        }
        return frozenset(proven or ()), bounds, rows
    except Exception:
        return frozenset(), {}, None


def _pool_layout(sdf, rows: int | None):
    """Order-preserving parallel layout for buffer-pool entries.

    A pooled table arrives from a small flat file — usually ONE parquet
    row group, so its in-memory copy inherits ONE partition and every
    stage-1 over it (scan + filter + project + partial agg, the
    dominant slope of most sub-second queries) runs on ONE core.
    Re-chunk ONCE at cache-fill time: stamp the scan's stable order id,
    range-partition by it (explicit partition count — REPARTITION_BY_NUM,
    so AQE never coalesces the layout back), and restore within-partition
    order, so the cached layout is EXACTLY the scan order split into
    contiguous chunks. Order semantics are bit-identical: every
    ``monotonically_increasing_id()`` computed over the pooled scan
    sorts the same as over the raw scan (partition index follows the
    range order, offsets follow the within-partition sort), so
    first-occurrence dedup / head / stable-sort tiebreaks are
    unchanged — asserted by the pool order-parity test.

    The chunk count is data-derived (rows / ``_POOL_PART_ROWS``,
    64k ≈ one Arrow batch), never the local core count: at 2
    cores the same chunks queue; at 32 they run wide. The one-time fill
    cost is a narrow exchange of a ≤64 MB table inside the first action
    that touches it."""
    if not rows:
        return sdf
    if rows <= _POOL_PART_ROWS:
        return sdf
    parts = min((rows + _POOL_PART_ROWS - 1) // _POOL_PART_ROWS, 64)
    from pandas_spark import fshim as F
    from pandas_spark.dtypes import free_name

    ord_c = free_name(sdf.columns, "__pool_ord__")
    return (
        sdf.withColumn(ord_c, F.monotonically_increasing_id())
        .repartitionByRange(parts, F.col(ord_c))
        .sortWithinPartitions(ord_c)
        .drop(ord_c)
    )


def _reanchor_on_cache(spark, sdf):
    """Re-anchor a freshly persisted pool entry on its InMemoryRelation
    LEAF so every later transform analyzes against one node.

    The pool-layout plan (mono-id → repartitionByRange → sort → drop)
    stays the persisted df's logical plan, and classic-mode Datasets
    eagerly analyze + checkAnalysis the WHOLE tree on EVERY transform —
    measured ~+10 ms per transform vs a raw scan base, paid by every op
    of every query over a pooled table (guide §1.2: fixed driver cost).
    CacheManager registers the plan at persist() time; wrapping its
    InMemoryRelation (the same object every later scan would be
    swapped to at execution) collapses the analyzed subtree to a leaf.
    Execution is unchanged: same relation, same columnar batches, same
    InMemoryTableScan. The original df rides along as ``_pool_origin``
    so eviction unpersists through the plan CacheManager actually
    registered (uncache matches by sameResult on the ORIGINAL plan, not
    the relation leaf)."""
    try:
        jdf = sdf._jdf
        jspark = jdf.sparkSession()
        cd = jspark.sharedState().cacheManager().lookupCachedData(jdf)
        if not cd.isDefined():
            return sdf
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        jleaf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            jspark, cd.get().cachedRepresentation()
        )
        leaf = _CDF(jleaf, sdf.sparkSession)
        leaf._pool_origin = sdf
        return leaf
    except Exception:
        return sdf


def _unpersist_pool_entry(sdf) -> None:
    """Unpersist a _SCAN_CACHE entry through its registered plan."""
    getattr(sdf, "_pool_origin", sdf).unpersist()


def read_parquet(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
    filters: str | None = None,
    cache: bool | str = "auto",
) -> DataFrame:
    """``pd.read_parquet`` — columns= prunes, filters= pushes into the scan.

    ns-precision timestamps (pandas' default unit) are transparently
    truncated to µs: the scan reads them as long (nanosAsLong) and a
    projection converts — stays distributed, pushdown-friendly.

    cache="auto" (default): scan metadata is memoized per
    (session, path, mtime-signature), and SMALL flat tables are
    additionally persisted in Spark's in-memory columnar cache (the
    buffer-pool analog, see _SCAN_CACHE notes). cache=False evicts any
    pool entry for the path and reads fresh — eviction matters because
    Spark's CacheManager substitutes a persisted plan into EVERY later
    scan of the same path, so without it a bypassed read would still
    hit the stale InMemoryRelation (use when the plan must show
    pushdown/pruning, or the file is being rewritten mid-session by an
    external process).
    """
    if not cache:
        for old in [
            k for k in _SCAN_CACHE if k[0] == id(spark) and k[1] == path
        ]:
            try:
                _unpersist_pool_entry(_SCAN_CACHE.pop(old)[0])
            except Exception:
                pass
    key = (id(spark), path, _path_signature(path) if cache else None)
    hit = _SCAN_CACHE.get(key) if key[2] is not None else None
    if hit is None:
        ns_cols = _nanos_timestamp_cols(path)
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        sdf = spark.read.parquet(path)
        if ns_cols:
            from pandas_spark import fshim as F  # backtick-safe F.col facade

            sdf = sdf.withColumns(
                {c: F.timestamp_micros(F.expr(f"{qi(c)} div 1000")) for c in ns_cols}
            )
        nonnull, bounds, rows = _footer_proofs(path)
        is_local = False
        if key[2] is not None and not ns_cols and rows is not None:
            # Footer-proven TINY tables (catalog dims: nation, region,
            # lookup codes) become driver-local relations: one pyarrow
            # read at first touch, then every broadcast build over them
            # is driver-side (LocalTableScan.executeCollect — no Spark
            # job, no task wave, and Catalyst sees the exact size, so
            # AQE never re-plans a proven-small dim). Measured: the
            # sf0.1 broadcast star join drops 0.40 → 0.27 s. Strictly
            # bounded by ABSOLUTE row/byte caps from the footer — at
            # the 100 TB design point only true dimension tables ever
            # qualify. The schema-equality guard makes this airtight:
            # any dtype the Arrow path maps differently from the JVM
            # scan (e.g. TIMESTAMP_NTZ) falls back to the scan plan.
            if 0 < rows <= _LOCAL_REL_ROWS and 0 < _path_bytes(path) <= (1 << 20):
                try:
                    import pyarrow.parquet as pq

                    local = spark.createDataFrame(pq.read_table(path))
                    if local.schema == sdf.schema:
                        sdf = local
                        is_local = True
                except Exception:
                    pass
        if key[2] is not None:
            # Buffer-pool analog: SMALL flat tables (dimension-sized on
            # disk) persist in Spark's in-memory columnar cache after
            # first use, so repeated queries skip the parquet decode —
            # the engine twin of pandas/DuckDB holding hot tables in
            # RAM. Strictly bounded: a table over the threshold
            # (default 64 MB on disk — every fact table at the 100 TB
            # design point) is NEVER persisted; MEMORY_AND_DISK so
            # eviction degrades, not OOMs. Only cacheable keys persist
            # (every persist has a tracked entry to unpersist), so
            # partitioned layouts keep their pruning FileScan.
            # Invalidation rides the (path, mtime) signature: a rewrite
            # produces a new key and the stale entry is unpersisted
            # below.
            if (
                not is_local  # a LocalRelation needs no buffer pool
                and 0 < _path_bytes(path) <= _CACHE_MAX_BYTES
                and _max_cell_bytes(path) <= 64.0
            ):
                # narrow dimension-sized tables only: wide cells (text
                # corpora, embedding arrays) scan FASTER from parquet
                # than from the columnar cache (measured 2x on text),
                # and at the 100 TB design point no fact table passes
                # the size cap anyway
                sdf = _pool_layout(sdf, rows)
                sdf = sdf.persist()
                sdf = _reanchor_on_cache(spark, sdf)
            for old in [
                k for k in _SCAN_CACHE
                if k[0] == key[0] and k[1] == key[1] and k != key
            ]:
                try:
                    _unpersist_pool_entry(_SCAN_CACHE.pop(old)[0])
                except Exception:
                    pass
            if len(_SCAN_CACHE) > 256:
                clear_scan_cache()
            _SCAN_CACHE[key] = (sdf, nonnull, bounds, rows)
    else:
        sdf, nonnull, bounds, rows = hit
    if filters:
        sdf = sdf.filter(filters)
    if columns:
        sdf = sdf.select(*columns)
        bounds = {c: b for c, b in bounds.items() if c in set(columns)}
    return DataFrame(sdf, nonnull=nonnull, bounds=bounds, rows_max=rows)


def read_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header: bool | int = 0,
    names: Sequence[str] | None = None,
    dtype: Mapping[str, str] | None = None,
    usecols: Sequence[str] | None = None,
    nrows: int | None = None,
    na_values: str | Sequence[str] | None = None,
    comment: str | None = None,
    quotechar: str = '"',
    escapechar: str | None = None,
    date_format: str | None = None,
    infer_schema: bool = True,
    multiline: bool = False,
    on_bad_lines: str = "error",
) -> DataFrame:
    """``pd.read_csv`` option surface → Spark csv datasource options.

    ``multiline=True`` parses quoted fields containing embedded
    newlines (pandas handles these by DEFAULT; Spark's line-splitting
    reader breaks such rows apart). It is opt-in because Spark's
    multiLine mode makes each file NON-SPLITTABLE — one task per
    file — which is the wrong default at the 100 TB design point;
    enable it when the data actually embeds newlines, and keep files
    small when you do.

    ``on_bad_lines`` mirrors pandas (readers.py): 'error' (default) →
    Spark FAILFAST — a malformed row RAISES, which also converts the
    multiline divergence from silent to loud (a split quoted row is
    malformed, so the default path fails instead of silently
    splitting — r10 verdict #8); 'skip' → DROPMALFORMED; 'warn' →
    PERMISSIVE (Spark nulls bad fields; closest available)."""
    modes = {"error": "FAILFAST", "skip": "DROPMALFORMED", "warn": "PERMISSIVE"}
    if on_bad_lines not in modes:
        raise ValueError(
            f"on_bad_lines must be 'error'|'skip'|'warn', got {on_bad_lines!r}"
        )
    reader = (
        spark.read.option("sep", sep)
        .option("header", header is not False and header is not None)
        .option("quote", quotechar)
        .option("inferSchema", infer_schema and dtype is None)
        .option("mode", modes[on_bad_lines])
    )
    if multiline:
        reader = reader.option("multiLine", True)
    if escapechar:
        reader = reader.option("escape", escapechar)
    if comment:
        reader = reader.option("comment", comment)
    extra_na: list[str] = []
    if na_values:
        sentinels = [na_values] if isinstance(na_values, str) else list(na_values)
        # Spark's csv nullValue is single-valued: first sentinel goes
        # there; the rest are nulled post-scan on string columns (a
        # numeric column polluted by an extra sentinel infers as string
        # anyway, so the replace reaches it before any dtype cast)
        reader = reader.option("nullValue", sentinels[0])
        extra_na = sentinels[1:]
    if date_format:
        reader = reader.option("timestampFormat", date_format)
    sdf = reader.csv(path)
    if extra_na:
        str_cols = [c for c, t in sdf.dtypes if t == "string"]
        if str_cols:
            sdf = sdf.replace(extra_na, None, subset=str_cols)
    if names:
        sdf = sdf.toDF(*names)
    if dtype:
        for c, t in dtype.items():
            sdf = sdf.withColumn(c, sdf[c].cast(to_spark_type(t)))
    if usecols:
        sdf = sdf.select(*usecols)
    if nrows:
        sdf = sdf.limit(nrows)
    return DataFrame(sdf)


def read_json(
    spark: SparkSession,
    path: str,
    lines: bool = True,
    schema: str | None = None,
) -> DataFrame:
    """``pd.read_json(lines=True)`` — NDJSON is Spark's native json format."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if not lines:
        reader = reader.option("multiLine", True)
    return DataFrame(reader.json(path))


def read_orc(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    sdf = spark.read.orc(path)
    if columns:
        sdf = sdf.select(*columns)
    return DataFrame(sdf)


def read_table(spark: SparkSession, path: str, sep: str = "\t", **kwargs) -> DataFrame:
    """``pd.read_table`` (io/parsers/readers.py:1177): read_csv with a
    tab default separator."""
    return read_csv(spark, path, sep=sep, **kwargs)


def read_fwf(
    spark: SparkSession,
    path: str,
    colspecs: Sequence[tuple[int, int]],
    names: Sequence[str],
    dtype: Mapping[str, str] | None = None,
    skiprows: int = 0,
) -> DataFrame:
    """``pd.read_fwf`` (io/parsers/readers.py:1266) — fixed-width text.

    Distributed: ``spark.read.text`` splits the file across tasks like
    any line source; each column is a ``substring`` + ``trim`` (+cast)
    Catalyst expression, so parsing is JVM-side and column-pruned (an
    unused colspec never evaluates). ``colspecs`` are half-open
    [start, end) byte offsets per pandas convention."""
    from pandas_spark import fshim as F  # backtick-safe F.col facade

    if len(colspecs) != len(names):
        raise ValueError("colspecs and names must have the same length")
    if skiprows:
        # the text DataFrame source re-orders splits by size for
        # scheduling, so "first N rows" is undefined there — but
        # sc.textFile keeps Hadoop's offset-ordered splits, so
        # partition 0 IS the file head. Skip N lines there and
        # re-enter the DataFrame layer; the rows cross Python once
        # (header-skipping is a small-file pattern — skiprows=0 stays
        # the pure-JVM scan).
        from itertools import islice
        import glob as _glob
        import os

        # partition 0 is only "the file head" for a SINGLE file input;
        # a directory or multi-file glob interleaves files into splits
        # and header lines from files 2..N would silently survive
        # (advisor-found). Refuse those explicitly.
        p = str(path)
        matches = _glob.glob(p) if any(ch in p for ch in "*?[") else [p]
        if len(matches) != 1 or os.path.isdir(matches[0]):
            raise ValueError(
                "read_fwf(skiprows=) supports a single file only; got "
                f"{len(matches)} matches for {path!r} — skiprows semantics "
                "are per-file-head and undefined over multi-file inputs"
            )
        rdd = spark.sparkContext.textFile(str(path)).mapPartitionsWithIndex(
            lambda i, it: islice(it, skiprows, None) if i == 0 else it
        )
        sdf = spark.createDataFrame(rdd.map(lambda l: (l,)), "value string")
    else:
        sdf = spark.read.text(str(path))
    cols = []
    for (start, end), name in zip(colspecs, names):
        c = F.trim(F.substring(F.col("value"), start + 1, end - start))
        if dtype and name in dtype:
            c = c.cast(to_spark_type(dtype[name]))
        cols.append(c.alias(name))
    return DataFrame(sdf.select(*cols))


def table(spark: SparkSession, name: str) -> DataFrame:
    return DataFrame(spark.table(name))


def from_pandas(spark: SparkSession, pdf, schema=None) -> DataFrame:
    """pandas → engine frame across the Arrow boundary.

    Applies the §7.0/§1.3 missing-value convention: pandas ``NaN``/
    ``NaT``/``None`` all become Spark NULL (pandas conflates NaN with
    missing — dtypes/missing.py:99; Spark distinguishes, so the
    boundary normalizes). Column order and names are preserved; the
    source row order is NOT implicitly an index (use sort_values or
    set_index to establish order/labels).

    ``schema=`` (DDL string or StructType) pins exact engine types —
    the escape hatch for the inference boundaries pandas/numpy impose
    on a plain round trip (tests/test_dtype_roundtrip.py documents the
    full matrix): int widths with NULLs degrade to double, naive
    datetimes infer as session-tz TIMESTAMP (not NTZ), dict cells
    infer as struct (not map), decimal precision re-infers from
    values. With schema= the engine→pandas→engine loop is a fixpoint
    for every FIXTURES.md §1 dtype.
    """
    from pandas_spark import fshim as F  # backtick-safe F.col facade

    if schema is None and len(pdf) == 0:
        # Spark can't infer a schema from ZERO rows, but pandas dtypes
        # are known regardless of row count: build the StructType from
        # them via Arrow (empty frames are valid pandas inputs —
        # fuzzer-found when a generated right side came up empty)
        import pyarrow as pa
        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(
            pa.Schema.from_pandas(pdf, preserve_index=False),
            prefer_timestamp_ntz=False,
        )
        # a zero-row object column arrives as Arrow null → Spark VOID,
        # which no downstream op accepts; the dtype bridge's object
        # reading is string (dtypes._PANDAS_TO_SPARK)
        schema = T.StructType([
            T.StructField(f.name, T.StringType() if isinstance(f.dataType, T.NullType) else f.dataType, True)
            for f in schema.fields
        ])
    sdf = spark.createDataFrame(pdf, schema=schema)
    # Arrow keeps float NaN as Spark NaN (a value, not NULL); normalize.
    # Names go through backtick-escaping so columns containing dots or
    # backticks resolve as single attributes, not nested-field paths
    from pandas_spark.dtypes import qi as q
    float_cols = {
        f.name: F.when(~F.isnan(q(f.name)), F.col(q(f.name)))
        for f in sdf.schema.fields
        if f.dataType.simpleString() in ("float", "double")
    }
    if float_cols:
        sdf = sdf.withColumns(float_cols)
    return DataFrame(sdf)


def read_feather(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    """``pd.read_feather`` (io/feather_format.py:83). Feather IS Arrow
    IPC; Spark has no native IPC datasource, so the file is read with
    pyarrow on the driver and shipped through the Arrow
    ``createDataFrame`` fast path (one memcpy-ish hop, no pickling).

    Scale note: a single .feather file is a single-machine artifact by
    construction — driver-side ingest is the honest shape for it. Big
    data belongs in parquet (``read_parquet``, fully distributed);
    convert once with pyarrow if stuck with IPC at scale.
    """
    import pyarrow.feather as feather

    table_ = feather.read_table(path, columns=list(columns) if columns else None)
    return DataFrame(spark.createDataFrame(table_.to_pandas()))


def to_feather(frame: DataFrame, path: str) -> None:
    """``DataFrame.to_feather`` — driver-side collect → Arrow IPC file
    (same single-machine caveat as ``read_feather``)."""
    import pyarrow as pa
    import pyarrow.feather as feather

    feather.write_feather(pa.Table.from_pandas(frame.to_pandas()), path)


def read_sql(
    spark: SparkSession,
    sql: str,
    con: str,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """``pd.read_sql`` (io/sql.py:558) → the Spark JDBC datasource.

    ``con`` is a JDBC url (``jdbc:postgresql://host/db?user=...``).
    A bare table name or a SELECT both work (SELECTs wrap as a dbtable
    subquery). Pass ``partition_column``/bounds/``num_partitions`` to
    split the read into parallel range scans — the difference between
    a 1-connection trickle and a cluster-wide ingest.
    """
    reader = spark.read.format("jdbc").option("url", con)
    q = sql.strip()
    if q.lower().startswith("select"):
        # alias must not start with '_' — Derby (and other strict SQL
        # dialects) reject unquoted leading-underscore identifiers
        reader = reader.option("dbtable", f"({q}) AS srcq")
    else:
        reader = reader.option("dbtable", q)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return DataFrame(reader.load())


def to_sql(frame: DataFrame, name: str, con: str, if_exists: str = "fail", **options: str) -> None:
    """``DataFrame.to_sql`` → JDBC write (mode map: fail/replace/append)."""
    mode = {"fail": "errorifexists", "replace": "overwrite", "append": "append"}[if_exists]
    writer = frame.spark.write.format("jdbc").option("url", con).option("dbtable", name).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()

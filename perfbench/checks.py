"""Output checks, run once per run outside the timed passes.

A headline result is compared to its DuckDB oracle (``suite.oracle_sql``)
on the same generated parquet by row count, column names and one
order-independent checksum per column, so a result of millions of rows
costs one Arrow transfer instead of a row-by-row Python compare. The
checksum rows are ordered and compared with ``verify_oracle.canon`` and
``verify_oracle.values_match`` (float tolerance).
"""

from __future__ import annotations

import datetime
import decimal

import duckdb
import numpy as np
import pandas as pd

from verify_oracle import canon, values_match

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(data_dir: str, docs_filter: set[int] | None = None):
    """DuckDB views over the generated tables; ``docs_filter`` keeps
    only those doc_ids in ``documents``."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        where = ""
        if t == "documents" and docs_filter is not None:
            where = f" WHERE doc_id IN ({', '.join(map(str, sorted(docs_filter))) or 'NULL'})"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet'){where}"
        )
    return con


def _is_time(v) -> bool:
    return isinstance(v, (datetime.date, datetime.datetime, np.datetime64, pd.Timestamp))


def column_checksum(s: pd.Series) -> tuple:
    """(non-null count, sum, sum of |x|) for numbers; (non-null count,
    hash-sum) for anything else, with times as epoch microseconds."""
    s = s.dropna()
    if pd.api.types.is_bool_dtype(s):
        s = s.astype(int)
    if pd.api.types.is_numeric_dtype(s) or (len(s) and isinstance(s.iloc[0], decimal.Decimal)):
        v = s.astype(float).to_numpy()
        return (len(v), float(v.sum()), float(np.abs(v).sum()))
    if pd.api.types.is_datetime64_any_dtype(s) or (len(s) and _is_time(s.iloc[0])):
        t = pd.to_datetime(s)
        if getattr(t.dt, "tz", None) is not None:
            t = t.dt.tz_convert("UTC").dt.tz_localize(None)
        s = t.astype("datetime64[us]").astype("int64").astype(str)
    h = pd.util.hash_array(s.astype(str).to_numpy(dtype=object))
    return (len(s), int(h.sum(dtype=np.uint64)))


def summary(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Column names in canonical order and the one-row checksum table."""
    cols = list(pdf.columns)
    row = tuple(column_checksum(pdf[c]) for c in cols)
    names, rows = canon([row], cols)
    return names, [(len(pdf),) + rows[0]]


def compare(engine: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    """None when the two results agree, else what differs."""
    en, er = summary(engine)
    on, orow = summary(oracle)
    if en != on:
        return f"columns differ: engine={en} oracle={on}"
    if er[0][0] != orow[0][0]:
        return f"row count engine={er[0][0]} oracle={orow[0][0]}"
    flat_e = [x for cell in er[0][1:] for x in cell]
    flat_o = [x for cell in orow[0][1:] for x in cell]
    if not values_match([tuple(flat_e)], [tuple(flat_o)]):
        return f"column checksums differ: engine={er} oracle={orow}"
    return None

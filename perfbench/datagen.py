"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-shaped star schema plus the ``events``, ``documents``
and ``embeddings`` tables that ``pandas_spark.suite`` queries read, one
snappy parquet file per table, with the same column names and types as
the suite's fixtures. Row counts scale with ``sf`` (sf 0.1: lineitem
600k rows, events 100k). The same seed always writes the same tables.

``replay_files`` cuts a slice of ``events`` into time-contiguous
micro-batch files for the streaming workload.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30
DAY_US = 86_400_000_000
INT32_COLUMNS = {
    "r_regionkey", "n_nationkey", "n_regionkey", "c_nationkey",
    "s_nationkey", "p_size", "l_linenumber", "label",
}


def _write(out_dir: str, name: str, cols: dict) -> None:
    # through pandas, so each file carries pandas' schema metadata
    df = pd.DataFrame(cols)
    for c in INT32_COLUMNS.intersection(df.columns):
        df[c] = df[c].astype(np.int32)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy", coerce_timestamps="us",
    )


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n) * np.timedelta64(1, "D")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> tuple[list[str], list[tuple[int, int]]]:
    """Random bags of 10-99 WORDS. Then one doc in twenty, at distinct
    random positions and one after another, is overwritten by another
    doc's text with ``dup`` appended: a planted near-duplicate for the
    MinHash query. A source may itself be a copy, or be overwritten
    later. Returns the texts and the planted ``(source, copy)`` doc_id
    pairs."""
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
             for _ in range(n)]
    planted: list[tuple[int, int]] = []
    for copy in rng.choice(n, n // 20, replace=False).tolist():
        src = int(rng.integers(0, n - 1))
        src += src >= copy
        texts[copy] = texts[src] + " dup"
        planted.append((src, copy))
    return texts, planted


def generate(
    out_dir: str, sf: float, seed: int, tables: set[str] | None = None,
) -> tuple[dict, list[tuple[int, int]]]:
    """Write the tables (all, or ``tables``) for scale ``sf`` into
    ``out_dir``. Returns ``{table: rows}`` and the planted near-duplicate
    ``(source, copy)`` doc_id pairs."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    want = tables or {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    rows: dict[str, int] = {}
    planted: list[tuple[int, int]] = []
    drawn = itertools.count()

    def emit(name: str, n: int, build) -> None:
        # every table draws from its own child stream, so asking for a
        # subset of tables writes the same rows as a full generation
        child = np.random.default_rng([seed, next(drawn), n])
        if name in want:
            rows[name] = n
            _write(out_dir, name, build(child, n))

    emit("region", 5, lambda r, n: {
        "r_regionkey": np.arange(n), "r_name": REGIONS})
    emit("nation", 25, lambda r, n: {
        "n_nationkey": np.arange(n), "n_name": [f"NATION_{i}" for i in range(n)],
        "n_regionkey": np.arange(n) % 5})
    emit("customer", n_cust, lambda r, n: {
        "c_custkey": np.arange(n), "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n), "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": _pick(r, SEGMENTS, n)})
    emit("supplier", n_supp, lambda r, n: {
        "s_suppkey": np.arange(n), "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n), "s_acctbal": _money(r, -999.99, 9999.99, n)})
    emit("part", n_part, lambda r, n: {
        "p_partkey": np.arange(n),
        "p_name": _pick(r, PART_ADJ, n) + " " + _pick(r, PART_NOUN, n),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": _pick(r, PART_TYPES, n), "p_size": r.integers(1, 51, n),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2)})
    emit("orders", n_ord, lambda r, n: {
        "o_orderkey": np.arange(n), "o_custkey": r.integers(0, n_cust, n),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": _money(r, 1000, 500_000, n),
        "o_orderdate": _days(r, "1995-01-01", 2405, n),
        "o_orderpriority": _pick(r, PRIORITIES, n)})
    emit("lineitem", n_li, lambda r, n: {
        "l_orderkey": r.integers(0, n_ord, n), "l_partkey": r.integers(0, n_part, n),
        "l_suppkey": r.integers(0, n_supp, n), "l_linenumber": r.integers(1, 8, n),
        "l_quantity": r.integers(1, 51, n).astype(float),
        "l_extendedprice": _money(r, 900, 105_000, n),
        "l_discount": _money(r, 0, 0.1, n), "l_tax": _money(r, 0, 0.08, n),
        "l_returnflag": _pick(r, ["A", "N", "R"], n), "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days(r, "1995-01-02", 2499, n)})
    emit("events", n_ev, lambda r, n: {
        "event_id": np.arange(n),
        "ts": EVENTS_START + np.sort(r.integers(0, EVENTS_DAYS * DAY_US, n)).astype("timedelta64[us]"),
        "user_id": r.integers(0, n_users, n), "event_type": _pick(r, EVENT_TYPES, n),
        "value": np.round(r.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})

    def docs(r, n):
        texts, pairs = _documents(r, n)
        planted.extend(pairs)
        return {
            "doc_id": np.arange(n), "text": texts,
            "lang": np.asarray(LANGS, dtype=object)[
                r.choice(len(LANGS), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}

    emit("documents", n_docs, docs)

    def emb(r, n):
        # unit vectors in random directions; the label carries no cluster
        v = r.normal(0, 1, (n, 64))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return {"vec_id": np.arange(n), "embedding": list(v.astype(np.float32)),
                "label": r.integers(0, 10, n)}

    emit("embeddings", n_emb, emb)
    return rows, planted


def replay_files(events_path: str, out_dir: str, seed: int, n_files: int, days: float) -> int:
    """Cut the first ``days`` of events into ``n_files`` time-contiguous
    parquet files at seeded cut points, rows shuffled inside each file.

    No row leaves its file, so no row arrives later than any watermark
    the streams set, and each stream's output equals its batch twin.
    ``days`` stays under twice the dedup watermark, so dedup state is
    never evicted. Returns the number of rows written."""
    ev = pd.read_parquet(events_path)
    ev = ev[ev.ts < ev.ts.min() + pd.Timedelta(days=days)].reset_index(drop=True)
    rng = np.random.default_rng([seed, 7])
    weights = rng.uniform(0.5, 1.5, n_files)
    cuts = np.concatenate([[0], np.cumsum(weights) / weights.sum() * len(ev)]).astype(int)
    cuts[-1] = len(ev)
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        part = ev.iloc[cuts[i]:cuts[i + 1]]
        part = part.iloc[rng.permutation(len(part))]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(out_dir, f"part-{i:04d}.parquet"),
            compression="snappy", coerce_timestamps="us",
        )
    return len(ev)


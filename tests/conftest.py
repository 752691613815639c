from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# Bench-session knobs that must NEVER leak into the test gate: a
# lingering `SPARK_GRAFT_DRIVER_MEM=48g` from a big-decade bench run
# once masked a default-heap OOM (the skew_report top_n bug) — the
# suite passed locally and died on a clean machine. Tests always run
# the DEFAULT session config.
_SCRUBBED_ENV = ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
_BANNER: list[str] = []


@pytest.fixture(scope="session")
def spark():
    for var in _SCRUBBED_ENV:
        if var in os.environ:
            print(f"[conftest] scrubbing {var}={os.environ.pop(var)!r} "
                  "(tests run the default session config)")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from pandas_spark import _jvmstart, get_spark

    s = get_spark("tests")
    _BANNER.append(f"[conftest] effective driver.memory="
                   f"{s.conf.get('spark.driver.memory', '(default)')} "
                   f"shuffle.partitions={s.conf.get('spark.sql.shuffle.partitions')} "
                   f"jvm_start={_jvmstart.state()}")
    print(_BANNER[-1])
    return s


def pytest_terminal_summary(terminalreporter):
    # fixture output is captured, so repeat the banner where -q logs show it
    for line in _BANNER:
        terminalreporter.write_line(line)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def assert_same(sdf, duck_con, sql, rel_tol=1e-6):
    """Spark result ≙ DuckDB oracle result (schema names + values)."""
    s_cols, s_rows = canon([tuple(r) for r in sdf.collect()], list(sdf.columns))
    res = duck_con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    d_cols, d_rows = canon(d_rows, d_cols)
    assert s_cols == d_cols, f"columns: spark={s_cols} duck={d_cols}"
    assert len(s_rows) == len(d_rows), f"rows: spark={len(s_rows)} duck={len(d_rows)}"
    for i, (ra, rb) in enumerate(zip(s_rows, d_rows)):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                assert va == vb or math.isclose(va, vb, rel_tol=rel_tol, abs_tol=1e-9), (
                    f"row {i}: {ra} != {rb}"
                )
            else:
                assert str(va) == str(vb), f"row {i}: {ra} != {rb}"

"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet (default sf0.01), compares row count,
column names, and values (sorted columns, sorted rows, float
tolerance). Usage: python tools/verify_oracle.py [--ansi] [names...]

``SPARK_GRAFT_VERIFY_SF_DIR`` overrides the data directory (default
sf0.01). ``--ansi`` runs the Spark side with ``spark.sql.ansi.enabled=true`` —
the driver's session config (Spark 4 default). The engine must be green
in BOTH states; the ANSI pass is part of the local gate.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# the engine of the checkout this tool sits in, wherever it is cloned
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Scrub bench-session knobs so a lingering big-decade export (e.g.
# SPARK_GRAFT_DRIVER_MEM=48g) can never mask a default-config failure;
# this gate mirrors the driver, which runs the default session.
for _var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
    if _var in os.environ:
        print(f"[verify_oracle] scrubbing {_var}={os.environ.pop(_var)!r} "
              "(gate runs the default session config)")

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def canon(rows, cols):
    """Sort columns by name, normalize cells, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def values_match(a, b, rel_tol=1e-6):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if va == vb:
                    continue
                if math.isclose(va, vb, rel_tol=rel_tol, abs_tol=1e-9):
                    continue
                return False
            elif str(va) != str(vb):
                return False
    return True


def main():
    import __spark_entry__ as entry_mod
    from pandas_spark import _jvmstart, get_spark

    args = sys.argv[1:]
    ansi = "--ansi" in args
    spark = get_spark("verify")
    print(f"[verify_oracle] sf_dir={SF_DIR} jvm_start={_jvmstart.state()}")
    if ansi:
        # Driver parity: the grading session runs Spark 4 defaults —
        # ANSI on AND parquet timestamps inferred as TIMESTAMP_NTZ
        # (unannotated int64 timestamps, which is what the testdata has).
        spark.conf.set("spark.sql.ansi.enabled", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        print("== driver parity: ansi=true, inferTimestampNTZ=true ==")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(a for a in args if a != "--ansi")
    failures = []
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_rows = sdf.collect()
            spark_cols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)}) [{time.time()-t0:.1f}s]")
            continue
        con = duck_con()
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sc, sr = canon([tuple(r) for r in spark_rows], list(spark_cols))
        dc, dr = canon(duck_rows, duck_cols)
        if sc != dc:
            print(f"FAIL {name}: columns differ spark={sc} duck={dc}")
            failures.append(name)
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount spark={len(sr)} duck={len(dr)}")
            failures.append(name)
            continue
        if not values_match(sr, dr):
            bad = next(
                (i for i, (x, y) in enumerate(zip(sr, dr)) if not values_match([x], [y])),
                -1,
            )
            print(f"FAIL {name}: values differ at sorted row {bad}:")
            print(f"  spark: {sr[bad]}")
            print(f"  duck : {dr[bad]}")
            failures.append(name)
            continue
        print(f"PASS {name} ({len(sr)} rows) [{time.time()-t0:.1f}s]")
    print(f"\n{ran - len(failures)}/{ran} passed"
          + (f" (subset of {len(qs)})" if only else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

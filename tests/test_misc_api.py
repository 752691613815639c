"""API-surface tests for operators whose effect isn't oracle-visible
(column position, label filtering, driver-side IO, scale warnings)."""

from __future__ import annotations

import warnings

import pytest

import pandas_spark as ps
from pandas_spark.frame import DataFrame


@pytest.fixture(scope="module")
def frame(spark):
    return ps.read_parquet(spark, "/root/testdata/sf0.001/customer.parquet")


def test_insert_positional(frame):
    out = frame.insert(1, "flag", ps.col("c_custkey") % 2 == 0)
    assert out.columns[1] == "flag"
    assert out.columns[0] == "c_custkey"
    assert len(out.columns) == len(frame.columns) + 1


def test_insert_existing_raises(frame):
    with pytest.raises(ValueError):
        frame.insert(0, "c_custkey", ps.col("c_custkey"))


def test_filter_labels_like_regex_items(frame):
    assert frame.filter_labels(like="name").columns == ["c_name"]
    assert frame.filter_labels(regex="key$").columns == ["c_custkey", "c_nationkey"]
    assert frame.filter_labels(items=["c_acctbal", "nope"]).columns == ["c_acctbal"]
    with pytest.raises(ValueError):
        frame.filter_labels(like="a", regex="b")


def test_feather_roundtrip(tmp_path, spark, frame):
    from pandas_spark.sources.io import read_feather, to_feather

    path = str(tmp_path / "c.feather")
    small = frame.select(["c_custkey", "c_name", "c_acctbal"])
    to_feather(small, path)
    back = read_feather(spark, path)
    assert back.spark.count() == small.spark.count()
    assert set(back.columns) == {"c_custkey", "c_name", "c_acctbal"}


def test_unkeyed_window_warns_once(frame):
    import pandas_spark.frame as fr

    fr._warned_unkeyed.discard("take")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        frame.take([0, 1]).spark.collect()
        frame.take([0])  # second call: no new warning
    msgs = [x for x in w if "single ordered partition" in str(x.message)]
    assert len(msgs) == 1


def test_salted_join_outer_raises(frame):
    from pandas_spark.operators.joins import salted_join

    with pytest.raises(ValueError):
        salted_join(frame, frame, "c_custkey", how="outer")


def test_rsplit_and_rfind_edges(spark):
    pdf_rows = [("a-b-c",), ("nodash",), (None,)]
    f = DataFrame(spark.createDataFrame(pdf_rows, ["s"]))
    out = f.assign(
        r=ps.col("s").str.rsplit("-", n=1),
        i=ps.col("s").str.rfind("-"),
        p=ps.col("s").str.rpartition("-"),
    ).spark.collect()
    by_s = {r["s"]: r for r in out}
    assert by_s["a-b-c"]["r"] == ["a-b", "c"]
    assert by_s["a-b-c"]["i"] == 3
    assert by_s["a-b-c"]["p"].asDict() == {"head": "a-b", "sep": "-", "tail": "c"}
    assert by_s["nodash"]["r"] == ["nodash"]
    assert by_s["nodash"]["i"] == -1
    assert by_s["nodash"]["p"].asDict() == {"head": "", "sep": "", "tail": "nodash"}


def test_asof_last_row_at_or_before(spark):
    rows = [(1, 10.0), (3, 30.0), (5, None), (7, 70.0)]
    f = DataFrame(spark.createDataFrame(rows, ["t", "v"]))
    assert f.asof(4, on="t").spark.collect()[0]["t"] == 3
    # null-v row at t=5 is skipped when subset is given
    assert f.asof(6, on="t", subset="v").spark.collect()[0]["t"] == 3
    assert f.asof(6, on="t").spark.collect()[0]["t"] == 5
    assert f.asof(0, on="t").spark.count() == 0


def test_quantile_approx_close_to_exact(spark):
    import pandas_spark as psm

    li = psm.read_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
    g = li[["l_returnflag", "l_quantity"]].groupby("l_returnflag")
    exact = {r["l_returnflag"]: r["l_quantity"] for r in g.quantile(0.5).spark.collect()}
    approx = {
        r["l_returnflag"]: r["l_quantity"]
        for r in g.quantile(0.5, approx=True).spark.collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) <= 1.0  # quantities are 1..50; sketch is near-exact here


def test_empty_input_schema_stability(spark):
    """Operators must return stable schemas (and not throw) on empty
    input — the behavior a driver hits when a filter eliminates every
    row upstream."""
    import pandas_spark as psm
    from pandas_spark import col
    from pandas_spark.window import Rolling

    li = psm.read_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
    empty = li.filter(col("l_quantity") < -1)  # no rows

    g = empty.groupby("l_returnflag").agg(s=("l_quantity", "sum"))
    assert g.spark.count() == 0
    assert g.spark.columns == ["l_returnflag", "s"]

    d = empty.sort_values(["l_orderkey", "l_linenumber"]).drop_duplicates(
        subset=["l_suppkey"], keep="first"
    )
    assert d.spark.count() == 0

    r = Rolling(empty, 5, on="l_orderkey", by=["l_suppkey"]).mean("l_quantity", alias="m")
    assert r.spark.count() == 0

    vc = empty[["l_returnflag"]].value_counts()
    assert vc.spark.count() == 0

    m = psm.merge(empty, empty.rename(columns={"l_quantity": "q2"}),
                  on="l_orderkey", how="inner")
    assert m.spark.count() == 0

    ss = empty.searchsorted("l_quantity", [5.0])
    rows = ss.spark.collect()
    assert rows[0]["insert_at"] == 0


def test_read_fwf_parses_fixed_width(tmp_path, spark):
    from pandas_spark.sources.io import read_fwf

    p = tmp_path / "data.fwf"
    p.write_text("0001  alpha   12.5\n0002  beta     3.0\n0010  gamma  -1.25\n")
    df = read_fwf(
        spark,
        str(p),
        colspecs=[(0, 4), (6, 13), (13, 19)],
        names=["id", "name", "score"],
        dtype={"id": "int", "score": "double"},
    )
    rows = {r["id"]: (r["name"], r["score"]) for r in df.spark.collect()}
    assert rows == {1: ("alpha", 12.5), 2: ("beta", 3.0), 10: ("gamma", -1.25)}


def test_read_table_tab_separated(tmp_path, spark):
    from pandas_spark.sources.io import read_table

    p = tmp_path / "data.tsv"
    p.write_text("a\tb\n1\tx\n2\ty\n")
    df = read_table(spark, str(p))
    got = sorted((r["a"], r["b"]) for r in df.spark.collect())
    assert got == [(1, "x"), (2, "y")]


def test_update_overwrite_and_fill_modes(spark):
    from pandas_spark.operators.setops import update

    left = DataFrame(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, None, 20.0), (3, "c", None)], "k int, s string, v double"
        )
    ).set_index("k")
    right = DataFrame(
        spark.createDataFrame(
            [(2, "B", 99.0), (3, None, 30.0), (4, "D", 40.0)], "k int, s string, v double"
        )
    ).set_index("k")
    over = {r["k"]: (r["s"], r["v"]) for r in update(left, right).spark.collect()}
    # row 4 (right-only) ignored; right non-NA wins; right NA keeps left
    assert over == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0)}
    fill = {r["k"]: (r["s"], r["v"]) for r in update(left, right, overwrite=False).spark.collect()}
    # only left's holes fill
    assert fill == {1: ("a", 10.0), 2: ("B", 20.0), 3: ("c", 30.0)}


def test_combine_column_union_and_fill_value(spark):
    from pyspark.sql import functions as F

    from pandas_spark.operators.setops import combine

    left = DataFrame(
        spark.createDataFrame([(1, 5.0), (2, 2.0)], "k int, x double")
    ).set_index("k")
    right = DataFrame(
        spark.createDataFrame([(2, 7.0), (3, 1.0)], "k int, x double")
    ).set_index("k")
    out = {r["k"]: r["x"] for r in
           combine(left, right, lambda a, b: F.greatest(a, b), fill_value=0.0).spark.collect()}
    # full outer align: unmatched sides fill with 0.0 before func
    assert out == {1: 5.0, 2: 7.0, 3: 1.0}


def test_is_monotonic_flags(spark):
    df = DataFrame(
        spark.createDataFrame([(1, 3.0), (2, 2.0), (3, 1.0)], "k int, v double")
    ).sort_values("k")
    row = df.is_monotonic(subset=["k", "v"]).spark.collect()[0]
    assert row["k_increasing"] and not row["k_decreasing"]
    assert row["v_decreasing"] and not row["v_increasing"]


def test_ewm_cov_corr_match_pandas(spark):
    import pandas as pd

    from pandas_spark.window import ewm_corr, ewm_cov

    pdf = pd.DataFrame(
        {
            "g": [1, 1, 1, 1, 2, 2, 2],
            "o": [1, 2, 3, 4, 1, 2, 3],
            "x": [1.0, 3.0, 2.0, 5.0, 2.0, 2.5, 0.5],
            "y": [2.0, 1.0, 4.0, 3.0, 1.0, 0.5, 2.0],
        }
    )
    sdf = DataFrame(spark.createDataFrame(pdf))
    got = (
        ewm_cov(sdf, "x", "y", alpha=0.4, by=["g"], order_by="o", alias="c")
        .spark.toPandas()
        .sort_values(["g", "o"])["c"]
        .reset_index(drop=True)
    )
    exp = (
        pdf.sort_values(["g", "o"])
        .groupby("g", group_keys=False)
        .apply(lambda d: d["x"].ewm(alpha=0.4, adjust=True).cov(d["y"]), include_groups=False)
        .reset_index(drop=True)
    )
    pd.testing.assert_series_equal(got, exp, check_names=False, rtol=1e-9)
    gotc = (
        ewm_corr(sdf, "x", "y", alpha=0.4, by=["g"], order_by="o", alias="c")
        .spark.toPandas()
        .sort_values(["g", "o"])["c"]
        .reset_index(drop=True)
    )
    expc = (
        pdf.sort_values(["g", "o"])
        .groupby("g", group_keys=False)
        .apply(lambda d: d["x"].ewm(alpha=0.4, adjust=True).corr(d["y"]), include_groups=False)
        .reset_index(drop=True)
    )
    pd.testing.assert_series_equal(gotc, expc, check_names=False, rtol=1e-9)


def test_empty_input_stability_round3_ops(spark):
    """Round-3 operators on empty input: stable schema, no throw."""
    from pyspark.sql import functions as F

    import pandas_spark as psm
    from pandas_spark import col
    from pandas_spark.operators.setops import combine, update

    li = psm.read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
    empty = li.filter(col("o_totalprice") < -1).set_index("o_orderkey")

    up = update(empty, empty)
    assert up.spark.count() == 0
    assert up.columns == empty.columns

    cb = combine(empty, empty, lambda a, b: F.greatest(a, b))
    assert cb.spark.count() == 0

    mono = empty.reset_index().sort_values("o_orderkey").is_monotonic(subset=["o_totalprice"])
    row = mono.spark.collect()[0]
    # empty series is vacuously monotonic both ways (pandas semantics:
    # min over empty → NULL; accept NULL or True, never False)
    assert row["o_totalprice_increasing"] is not False
    assert row["o_totalprice_decreasing"] is not False


def test_neardup_clusters_match_union_find(spark):
    """Spark min-label propagation == reference union-find on fixed
    random graphs (chains, cliques, isolated pairs, forests)."""
    import random

    from pandas_spark.operators.dedup import neardup_clusters

    rng = random.Random(11)
    for trial in range(3):
        n = 40
        edges = set()
        # random forest-ish structure + a clique + a long chain
        for _ in range(25):
            a, b = rng.sample(range(n), 2)
            edges.add((min(a, b), max(a, b)))
        for i in range(30, 34):
            for j in range(i + 1, 34):
                edges.add((i, j))
        for i in range(34, n - 1):
            edges.add((i, i + 1))
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        expected = {v: find(v) for v in sorted(touched)}

        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "id1 long, id2 long"
        )
        # driver union-find fast path
        got = {r["doc_id"]: r["cluster"] for r in neardup_clusters(pairs).collect()}
        assert got == expected, f"trial {trial} (driver): {got} != {expected}"
        # distributed label-propagation path (forced)
        got_d = {
            r["doc_id"]: r["cluster"]
            for r in neardup_clusters(pairs, driver_threshold=0).collect()
        }
        assert got_d == expected, f"trial {trial} (distributed): {got_d} != {expected}"


def test_pivot_strict_raises_on_duplicates(spark):
    from pandas_spark.operators.reshape import pivot
    import pandas_spark as ps
    import pandas as pd

    pdf = pd.DataFrame(
        {"k": [1, 1, 2], "c": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]}
    )
    f = ps.from_pandas(spark, pdf)
    with pytest.raises(ValueError, match="duplicate"):
        pivot(f, index="k", columns="c", values="v", strict=True)
    # unique cells pass
    pdf2 = pd.DataFrame({"k": [1, 2], "c": ["a", "b"], "v": [1.0, 3.0]})
    out = pivot(ps.from_pandas(spark, pdf2), index="k", columns="c", values="v", strict=True)
    assert len(out.to_spark().collect()) == 2


def test_pivot_values_cache_sees_source_rewrite(spark, tmp_path):
    """r9 ADVICE: the implicit pivot-value memo keyed on semanticHash
    only, which doesn't change when the same parquet path is
    overwritten — a repeated pivot silently dropped the new columns.
    The key now carries the file-index fingerprint (path+size+mtime)."""
    import os
    import time

    import pandas as pd
    import pandas_spark as ps
    from pandas_spark.operators.reshape import pivot

    path = str(tmp_path / "piv.parquet")
    pd.DataFrame({"k": [1, 2], "c": ["a", "a"], "v": [1.0, 2.0]}).to_parquet(path)
    f1 = ps.read_parquet(spark, path)
    out1 = pivot(f1, index="k", columns="c", values="v")
    assert set(out1.columns) == {"k", "a"}

    # overwrite the SAME path with a new pivot-column universe; bump
    # mtime explicitly in case the fs clock is coarse
    pd.DataFrame({"k": [1, 2], "c": ["b", "z"], "v": [3.0, 4.0]}).to_parquet(path)
    os.utime(path, (time.time() + 2, time.time() + 2))
    f2 = ps.read_parquet(spark, path)
    out2 = pivot(f2, index="k", columns="c", values="v")
    assert set(out2.columns) == {"k", "b", "z"}, (
        "stale pivot-value cache served the pre-rewrite column set"
    )


def test_strict_scale_escalates_unkeyed_window(spark):
    import pandas_spark as ps
    import pandas as pd

    f = ps.from_pandas(spark, pd.DataFrame({"i": [1, 2], "v": [1.0, None]})).sort_values("i")
    spark.conf.set("pandas_spark.strict_scale", "true")
    try:
        with pytest.raises(RuntimeError, match="single ordered partition"):
            f.ffill()
    finally:
        spark.conf.set("pandas_spark.strict_scale", "false")
    f.ffill()  # warning-only path works again


def test_groupby_sample_deterministic(spark):
    import pandas_spark as ps
    import pandas as pd

    pdf = pd.DataFrame({"k": ["a"] * 50 + ["b"] * 5, "id": range(55)})
    f = ps.from_pandas(spark, pdf)
    s1 = f.groupby("k").sample(n=10, seed=7, id_col="id").to_spark().collect()
    s2 = f.groupby("k").sample(n=10, seed=7, id_col="id").to_spark().collect()
    assert sorted(r["id"] for r in s1) == sorted(r["id"] for r in s2)
    by_k = {}
    for r in s1:
        by_k.setdefault(r["k"], []).append(r["id"])
    assert len(by_k["a"]) == 10
    assert len(by_k["b"]) == 5  # min(n, group size)


def test_decode_image_both_paths(monkeypatch):
    """decode_image raises without the imaging extra; with a (stub)
    imaging module present it decodes and real_decode_features emits
    the FEATURE_SCHEMA dict with real dimensions."""
    from pandas_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_PIL_Image", None)
    with pytest.raises(NotImplementedError, match="imaging"):
        mm.decode_image(b"\x89PNG")

    import numpy as np

    class _FakeImg:
        def __init__(self, arr):
            self._arr = arr
        def convert(self, mode):
            return self
        def __array__(self, dtype=None, copy=None):
            return self._arr
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    class _FakePIL:
        @staticmethod
        def open(buf):
            return _FakeImg(np.zeros((7, 9, 3), dtype=np.uint8))

    monkeypatch.setattr(mm, "_PIL_Image", _FakePIL)
    arr = mm.decode_image(b"\x89PNG")
    assert arr.shape == (7, 9, 3)
    feats = mm.real_decode_features(b"\x89PNG")
    assert feats["pseudo_width"] == 9 and feats["pseudo_height"] == 7
    assert set(feats) == {"byte_len", "digest", "pseudo_width", "pseudo_height"}


def test_decode_ppm_bmp_native(monkeypatch):
    """r9: BMP/PPM decode is REAL in-container (pure numpy, no Pillow)
    — round-trips through the writer twins, covers row padding (odd
    widths), bottom-up storage, P3 ascii, comments, and 16-bit maxval
    rescale; dispatch by magic bytes beats the Pillow probe."""
    import numpy as np

    from pandas_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_PIL_Image", None)  # prove no Pillow needed
    rng = np.random.default_rng(9)
    for h, w in [(1, 1), (4, 8), (5, 3), (7, 7)]:  # odd widths → padding
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (mm.decode_image(mm.encode_ppm(arr)) == arr).all(), (h, w)
        assert (mm.decode_image(mm.encode_bmp(arr)) == arr).all(), (h, w)
    # P3 ascii with comments
    p3 = b"P3\n# a comment\n2 1\n255\n255 0 0  0 128 64\n"
    assert (mm.decode_image(p3) == [[[255, 0, 0], [0, 128, 64]]]).all()
    # 16-bit maxval rescales to 8-bit
    a16 = (np.array([[[65535, 0, 32768]]], dtype=">u2")).tobytes()
    p6_16 = b"P6\n1 1\n65535\n" + a16
    assert (mm.decode_image(p6_16) == [[[255, 0, 128]]]).all()
    # real features over a native decode
    feats = mm.real_decode_features(mm.encode_bmp(rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)))
    assert feats["pseudo_width"] == 5 and feats["pseudo_height"] == 3
    # unknown formats still raise honestly without Pillow
    with pytest.raises(NotImplementedError, match="pillow"):
        mm.decode_image(b"\x89PNG....")


def test_jdbc_roundtrip_embedded_derby(spark, frame):
    """read_sql/to_sql against the Derby embedded driver Spark ships
    for its Hive metastore — a real JDBC round-trip (plain read, SELECT
    wrapping, and a partitioned range-scan read), no external DB."""
    from pandas_spark.sources.io import read_sql, to_sql

    url = "jdbc:derby:memory:psjdbc;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    small = frame.select(["c_custkey", "c_name", "c_acctbal"]).head(50)
    to_sql(small, "cust", url, if_exists="replace", **drv)

    back = read_sql(spark, "cust", url, **drv)
    assert back.spark.count() == 50
    assert set(back.columns) == {"c_custkey", "c_name", "c_acctbal"}

    # Spark's JDBC writer quotes identifiers, so raw SQL against the
    # written table quotes them too (Derby folds unquoted names upper)
    sel = read_sql(
        spark,
        'SELECT "c_custkey", "c_acctbal" FROM cust WHERE "c_acctbal" > 0',
        url,
        **drv,
    )
    assert set(sel.columns) == {"c_custkey", "c_acctbal"}

    part = read_sql(
        spark,
        "cust",
        url,
        partition_column="c_custkey",
        lower_bound=0,
        upper_bound=10000,
        num_partitions=4,
        **drv,
    )
    assert part.spark.rdd.getNumPartitions() == 4
    assert part.spark.count() == 50

    to_sql(small, "cust", url, if_exists="append", **drv)
    assert read_sql(spark, "cust", url, **drv).spark.count() == 100
    with pytest.raises(Exception):
        to_sql(small, "cust", url, if_exists="fail", **drv)


def test_rename_callable(spark):
    import pandas as pd

    import pandas_spark as ps

    pdf = pd.DataFrame({"a": [1], "b": [2]})
    f = ps.from_pandas(spark, pdf)
    assert f.rename(str.upper).columns == ["A", "B"]


def test_explode_multi_column_zip(spark):
    import pandas as pd
    import pytest

    import pandas_spark as ps

    pdf = pd.DataFrame(
        {
            "i": [0, 1],
            "a": [[1, 2], [3]],
            "b": [["x", "y"], ["z"]],
        }
    )
    f = ps.from_pandas(spark, pdf)
    got = f.explode(["a", "b"]).sort_values(["i", "a"]).to_pandas()
    want = pdf.explode(["a", "b"])
    assert got.a.tolist() == [int(x) for x in want.a]
    assert got.b.tolist() == want.b.tolist()
    # mismatched element counts raise, like pandas
    bad = ps.from_pandas(
        spark, pd.DataFrame({"i": [0], "a": [[1, 2]], "b": [["x"]]})
    )
    with pytest.raises(Exception, match="matching element counts"):
        bad.explode(["a", "b"]).to_pandas()


def test_cosine_topk_matches_numpy_reference_with_ties(spark):
    import numpy as np
    import pandas as pd

    import pandas_spark as ps
    from pandas_spark.operators.similarity import cosine_topk

    # many exact duplicates => heavy score ties at the top-k boundary;
    # the partial top-k must keep boundary ties so the global id
    # tie-break matches a full brute-force sort exactly
    rng = np.random.RandomState(3)
    base = rng.randn(6, 8)
    X = np.vstack([base[i % 6] for i in range(60)])  # 10 copies of each
    pdf = pd.DataFrame(
        {"vec_id": range(60), "embedding": [list(map(float, v)) for v in X]}
    )
    f = ps.from_pandas(spark, pdf)
    f = ps.DataFrame(f.spark.repartition(8))  # force multi-partition partials
    q = ps.DataFrame(f.spark.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding"))
    got = (
        cosine_topk(f, q, k=7)
        .sort_values(["query_id", "rank"])
        .to_pandas()
    )
    # reference: numpy brute force over the collected vectors, sorted
    # by (cosine desc, id asc); identical rows give identical cosines
    want_ids, want_cos = [], []
    for qid in range(3):
        scored = sorted(
            (-float(np.dot(x, X[qid]) / (np.linalg.norm(x) * np.linalg.norm(X[qid]))), i)
            for i, x in enumerate(X)
        )[:7]
        want_ids += [i for _, i in scored]
        want_cos += [-c for c, _ in scored]
    assert got.vec_id.tolist() == want_ids
    assert np.allclose(got.cosine, want_cos, atol=1e-9)


def test_to_parquet_layout_clustered(tmp_path, spark):
    """sort_by range-clusters output files: disjoint min/max footer
    stats per file (the property filtered scans prune on), file count
    bounded by max_records_per_file, lossless roundtrip."""
    import pyarrow.parquet as pq
    import glob as _glob

    li = ps.read_parquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
    n = li.spark.count()
    path = str(tmp_path / "clustered")
    li.to_parquet(path, sort_by=["l_orderkey"], max_records_per_file=1000,
                  compression="zstd")
    files = sorted(_glob.glob(f"{path}/*.parquet"))
    assert len(files) >= 2  # 6k rows / 1000 cap
    back = ps.read_parquet(spark, path)
    assert back.spark.count() == n
    # footer min/max on the sort key must not overlap across files
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        if md.num_rows == 0:
            continue
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("l_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # range-partitioned: no interleaving


def test_skew_report_shares_sum(spark):
    from pandas_spark.operators import diagnostics

    ev = ps.read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    # top_n=None == all keys, with NO limit() in the plan (a huge
    # orderBy().limit() would eagerly allocate an O(top_n) buffer)
    full = diagnostics.skew_report(ev, "user_id", top_n=None).spark.collect()
    assert abs(sum(r["share"] for r in full) - 1.0) < 1e-9
    total = ev.spark.count()
    assert sum(r["cnt"] for r in full) == total
    # skew == cnt / mean group size
    mean = total / len(full)
    for r in full[:5]:
        assert abs(r["skew"] - r["cnt"] / mean) < 1e-9


def test_skew_report_large_top_n_avoids_take_ordered(spark):
    """Regression: top_n past the TakeOrderedAndProject threshold must
    compile to the rank-filter plan (memory O(partition), not O(top_n))
    — asking for 10⁹ rows used to OOM the default-heap JVM before
    touching any data. All three plan variants must agree on results."""
    from pandas_spark.operators import diagnostics

    ev = ps.read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    big = diagnostics.skew_report(ev, "user_id", top_n=10**9)
    plan = big.spark._sc._jvm.PythonSQLUtils.explainString(
        big.spark._jdf.queryExecution(), "simple"
    )
    assert "TakeOrderedAndProject" not in plan
    rows_big = big.spark.collect()
    rows_none = diagnostics.skew_report(ev, "user_id", top_n=None).spark.collect()
    assert rows_big == rows_none
    small = diagnostics.skew_report(ev, "user_id", top_n=5)
    plan_small = small.spark._sc._jvm.PythonSQLUtils.explainString(
        small.spark._jdf.queryExecution(), "simple"
    )
    assert "TakeOrderedAndProject" in plan_small
    assert small.spark.collect() == rows_none[:5]


def test_decontaminate_neardup_drops_flagged(spark):
    from pandas_spark.operators import text
    from pyspark.sql import functions as F

    docs = ps.read_parquet(spark, "/root/testdata/sf0.01/documents.parquet")
    corpus = docs.filter(ps.col("doc_id") >= 100)
    bench = docs.filter(ps.col("doc_id") < 100)
    flagged = text.neardup_contamination(corpus, bench, threshold=0.7)
    ids = {r["doc_id"] for r in flagged.spark.collect()}
    assert ids  # sf0.01 corpus contains cross-boundary near-dups
    clean = text.decontaminate_neardup(corpus, bench, threshold=0.7)
    n_corpus = corpus.spark.count()
    assert clean.spark.count() == n_corpus - len(ids)
    left = {r["doc_id"] for r in clean.spark.select("doc_id").collect()}
    assert not (ids & left)


def test_neardup_contamination_string_ids(spark):
    """Side-tagging must survive non-numeric id columns (schema derives
    from the corpus id dtype)."""
    from pandas_spark.operators import text
    from pyspark.sql import functions as F

    docs = ps.read_parquet(spark, "/root/testdata/sf0.01/documents.parquet")
    sdocs = DataFrame(
        docs.spark.withColumn("doc_id", F.concat(F.lit("d-"), F.col("doc_id")))
    )
    corpus = sdocs.filter(ps.col("doc_id") != "d-245")
    bench = sdocs.filter(ps.col("doc_id") == "d-245")
    out = text.neardup_contamination(corpus, bench, threshold=0.7).spark
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.count() >= 1  # doc 245 has a near-dup partner in-corpus


def test_dedup_keep_best_prefers_high_score(spark):
    from pandas_spark.operators import dedup
    from pandas_spark.sources.io import from_pandas
    import pandas as pd

    base = "the quick brown fox jumps over the lazy dog " * 8
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            # 1 and 2 near-dup; 2 is longer (higher quality score)
            "text": [base, base + "extra tail words here", "completely different content " * 10],
        }
    )
    f = from_pandas(spark, pdf).assign(
        n=ps.col("text").str.len()
    )
    out = dedup.dedup_keep_representatives(
        f, "text", "doc_id", threshold=0.5, keep="best", score_col="n"
    )
    kept = sorted(r["doc_id"] for r in out.spark.select("doc_id").collect())
    assert kept == [2, 3]  # best (longest) clone survives, not min-id
    # min_id default keeps 1
    out2 = dedup.dedup_keep_representatives(f, "text", "doc_id", threshold=0.5)
    kept2 = sorted(r["doc_id"] for r in out2.spark.select("doc_id").collect())
    assert kept2 == [1, 3]


def test_unigram_logprob_ranks_gibberish_low(spark):
    from pandas_spark.operators import text as T
    from pandas_spark.sources.io import from_pandas
    import pandas as pd

    common = "the cat sat on the mat and the dog sat on the rug"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [common, "zxqv jkwpf mnbvt qqrrz aapls"],
        }
    )
    f = from_pandas(spark, pdf)
    got = {r["doc_id"]: r["logprob"] for r in T.unigram_logprob(f).spark.collect()}
    assert got[2] < got[1]  # rare-token gibberish scores lower


def test_crosstab_values_aggfunc_matches_pandas(spark):
    from pandas_spark.operators.reshape import crosstab
    from pandas_spark.sources.io import from_pandas
    import pandas as pd
    import numpy as np

    pdf = pd.DataFrame(
        {
            "r": ["a", "a", "b", "b", "a", "b"],
            "c": ["x", "y", "x", "x", "x", "y"],
            "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    want = pd.crosstab(pdf.r, pdf.c, values=pdf.v, aggfunc="mean")
    f = from_pandas(spark, pdf)
    got = crosstab(f, "r", "c", values="v", aggfunc="mean").spark.toPandas()
    got = got.set_index("r").sort_index()
    for r in want.index:
        for c in want.columns:
            w = want.loc[r, c]
            g = got.loc[r, c]
            assert (pd.isna(w) and pd.isna(g)) or abs(w - g) < 1e-9


def test_rolling_window1_closed_neither_raises(spark):
    from pandas_spark.window import Rolling

    f = ps.read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ValueError, match="selects no rows"):
        Rolling(f, 1, on="event_id", closed="neither")


def test_get_group_and_swapcase(spark):
    import pandas as pd
    from pandas_spark.sources.io import from_pandas

    pdf = pd.DataFrame({"k": ["a", "b", "a"], "v": [1, 2, 3], "s": ["AbC", "xY", "z"]})
    f = from_pandas(spark, pdf)
    g = f.groupby("k").get_group("a")
    assert sorted(r["v"] for r in g.spark.collect()) == [1, 3]
    got = [r["w"] for r in f.assign(w=ps.col("s").str.swapcase()).spark.orderBy("v").collect()]
    assert got == ["aBc", "Xy", "Z"]


def test_buffer_pool_small_table_persists_and_invalidates(spark, tmp_path):
    """The read_parquet scan tiers: a TINY flat table becomes a
    driver-local relation (LocalTableScan — broadcast builds over it
    need no Spark job); a mid-size table persists in Spark's columnar
    cache; rewriting the file serves FRESH data either way (the r5
    ADVICE stale-cache scenario); partitioned layouts never cache."""
    import numpy as np
    import pandas as pd

    from pandas_spark.sources import io as psio

    path = str(tmp_path / "dim.parquet")
    pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]}).to_parquet(path)
    a = ps.read_parquet(spark, path)
    assert "LocalTableScan" in a.to_spark()._sc._jvm.PythonSQLUtils.explainString(
        a.to_spark()._jdf.queryExecution(), "formatted"
    )
    assert a.to_spark().count() == 3
    # same mtime-signature → same cached scan object
    b = ps.read_parquet(spark, path)
    assert b.to_spark() is a.to_spark()
    # rewrite → new signature → fresh data, stale entry dropped
    pd.DataFrame({"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]}).to_parquet(path)
    c = ps.read_parquet(spark, path)
    assert c.to_spark().count() == 4
    # cache=False bypasses the memo, the pool, and the local tier
    d = ps.read_parquet(spark, path, cache=False)
    plan = d.to_spark()._sc._jvm.PythonSQLUtils.explainString(
        d.to_spark()._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in plan and "Scan parquet" in plan
    assert "LocalTableScan" not in plan
    # mid-size (over the local-relation row cap, under the pool cap):
    # the buffer-pool columnar cache tier
    mid = str(tmp_path / "mid.parquet")
    pd.DataFrame({"k": np.arange(5000), "v": np.arange(5000) * 0.5}).to_parquet(mid)
    m = ps.read_parquet(spark, mid)
    assert "InMemoryRelation" in m.to_spark()._sc._jvm.PythonSQLUtils.explainString(
        m.to_spark()._jdf.queryExecution(), "formatted"
    )
    assert m.to_spark().count() == 5000
    psio.clear_scan_cache()


def test_buffer_pool_skips_partitioned_layouts(spark, tmp_path):
    """A directory with partition subdirectories is never cached or
    persisted: dynamic partition overwrite must be visible on re-read,
    and the scan must keep its partition-pruning FileScan."""
    import pandas as pd

    from pandas_spark.frame import DataFrame
    from pandas_spark.sources import io as psio

    path = str(tmp_path / "facts")
    pdf = pd.DataFrame({"part": ["x", "x", "y"], "v": [1, 2, 3]})
    sdf = spark.createDataFrame(pdf)
    sdf.write.partitionBy("part").parquet(path)
    assert psio._path_signature(path) is None
    a = ps.read_parquet(spark, path)
    assert a.to_spark().count() == 3
    # overwrite ONE partition (the root mtime does not change) — the
    # next read must see the new rows, not a cached listing
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.createDataFrame(
            pd.DataFrame({"part": ["x"] * 5, "v": [9] * 5})
        ).write.mode("overwrite").partitionBy("part").parquet(path)
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    b = ps.read_parquet(spark, path)
    assert b.to_spark().count() == 6  # 5 new x-rows + 1 y-row
    plan = b.filter(ps.col("part") == "y").to_spark()._sc._jvm.PythonSQLUtils.explainString(
        b.filter(ps.col("part") == "y").to_spark()._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in plan and "PartitionFilters" in plan


def test_buffer_pool_skips_wide_text_tables(spark, tmp_path):
    """A small-on-disk table with WIDE string cells (a text corpus) is
    memoized but NOT persisted: the columnar cache decodes large
    BYTE_ARRAY cells ~2x slower than the vectorized parquet reader
    (measured on text_stats), so the pool only takes narrow tables."""
    import pandas as pd

    from pandas_spark.sources import io as psio

    path = str(tmp_path / "docs.parquet")
    # over the local-relation row cap (2000) so the driver-local tier
    # doesn't claim it first; still under the 64 MB pool size cap
    pd.DataFrame(
        {"doc_id": range(2500), "text": [f"lorem ipsum {i} " * 40 for i in range(2500)]}
    ).to_parquet(path)
    assert psio._max_cell_bytes(path) > 64.0
    a = ps.read_parquet(spark, path)
    plan = a.to_spark()._sc._jvm.PythonSQLUtils.explainString(
        a.to_spark()._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in plan and "Scan parquet" in plan
    # still memoized: same signature returns the same scan object
    b = ps.read_parquet(spark, path)
    assert b.to_spark() is a.to_spark()
    psio.clear_scan_cache()


def test_buffer_pool_skips_dictionary_duplicated_text(spark, tmp_path):
    """A REPLICATED text corpus (the crossover decades clone every doc
    N times) dictionary-encodes to tiny pages, so page-bytes/rows
    understated the cell width ~N× and let a 100×-decade corpus into
    the pool (measured 2.5× per-run loss: pool-layout shuffle + slow
    wide-cell columnar decode). The gate now also reads the column
    statistics' extreme-value LENGTH, which is logical and
    duplication-proof."""
    import pandas as pd

    from pandas_spark.sources import io as psio

    path = str(tmp_path / "clones.parquet")
    wide = "lorem ipsum dolor sit amet " * 10  # 270 chars/cell
    # 2500 rows, only 5 DISTINCT texts: dictionary page holds 5 values,
    # so page-bytes/rows is tiny while the logical cell width is 270
    pd.DataFrame(
        {"doc_id": range(2500), "text": [wide + str(i % 5) for i in range(2500)]}
    ).to_parquet(path)
    assert psio._max_cell_bytes(path) > 64.0  # statistics-length floor
    a = ps.read_parquet(spark, path)
    plan = a.to_spark()._sc._jvm.PythonSQLUtils.explainString(
        a.to_spark()._jdf.queryExecution(), "formatted"
    )
    assert "InMemoryRelation" not in plan and "Scan parquet" in plan
    assert "__pool_ord__" not in plan  # no pool layout either
    psio.clear_scan_cache()


def test_buffer_pool_parallel_layout_preserves_order(spark, tmp_path, monkeypatch):
    """A pooled table big enough to re-chunk (rows > _POOL_PART_ROWS)
    caches as MULTIPLE partitions (stage-1 parallelism for every query
    over it) while keeping the scan order BIT-IDENTICAL: the
    monotonically_increasing_id ordering over the pooled scan must
    equal the file's row order — first-occurrence dedup / head /
    stable-sort tiebreaks all hang off that ordering."""
    import pandas as pd

    from pandas_spark import fshim as F
    from pandas_spark.sources import io as psio

    path = str(tmp_path / "wide.parquet")
    n = 10_000
    # a deliberately non-monotonic payload so order parity is observable
    pd.DataFrame(
        {"k": [(i * 2654435761) % n for i in range(n)], "v": range(n)}
    ).to_parquet(path)
    monkeypatch.setattr(psio, "_POOL_PART_ROWS", 2048)
    try:
        psio.clear_scan_cache()
        a = ps.read_parquet(spark, path).to_spark()
        a.write.format("noop").mode("overwrite").save()  # fill the pool
        assert a.rdd.getNumPartitions() == 5  # ceil(10000 / 2048)
        got = [
            r.k
            for r in a.select(
                F.monotonically_increasing_id().alias("__i__"), "k"
            )
            .orderBy("__i__")
            .collect()
        ]
        want = pd.read_parquet(path)["k"].tolist()
        assert got == want
    finally:
        psio.clear_scan_cache()


def test_repetition_signals_hand_cases(spark):
    """Gopher repetition fractions on handcrafted docs: exact expected
    values (the suite oracle re-derives them independently via SQL)."""
    from pandas_spark.frame import DataFrame
    from pandas_spark.operators import text

    rows = [
        (1, "hello world\nhello world\nunique line"),
        (2, "spam spam spam spam"),
        (3, "alpha beta gamma delta"),
        (4, ""),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text.repetition_signals(DataFrame(sdf)).spark.collect()
    }
    # doc 1: 3 lines, 2 duplicated ("hello world" ×2) -> 2/3 by unit,
    # 22/33 by char
    assert abs(out[1]["dup_line_frac"] - 2 / 3) < 1e-12
    assert abs(out[1]["dup_line_char_frac"] - 22 / 33) < 1e-12
    # doc 2: top 2-gram "spam spam" count 3 × 9 chars = 27 / 19 -> capped 1.0
    assert out[2]["top_2gram_char_frac"] == 1.0
    # doc 2: 5-grams impossible (4 words) -> 0
    assert out[2]["dup_5gram_char_frac"] == 0.0
    # doc 3: no repetition anywhere; every 2-gram is a singleton, and
    # the top-gram rule gates on count>1 (DataTrove convention) -> 0
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top_2gram_char_frac"] == 0.0
    # doc 4: empty text -> all zeros, keep=True
    assert out[4]["repetition_keep"] is True
    assert out[4]["top_4gram_char_frac"] == 0.0


def test_repetition_filter_drops_degenerate(spark):
    from pandas_spark.frame import DataFrame
    from pandas_spark.operators import text

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "buy now " * 40),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    kept = text.repetition_filter(DataFrame(sdf)).spark
    assert [r["doc_id"] for r in kept.collect()] == [1]
    assert kept.columns == ["doc_id", "text"]


def test_repeated_ngram_spans_and_removal(spark):
    """ExactSubstr dedup (Lee et al.): shared 6-token run across two
    docs at window=5 -> merged spans [1,6] / [3,8]; covered tokens
    dropped from EVERY copy; self-repetition covers the whole doc."""
    from pandas_spark.frame import DataFrame
    from pandas_spark.operators import dedup

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f q r"),
        (3, "u v w completely unique tokens here now"),
        (4, "p p p p p p p p"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.repeated_ngram_spans(
            DataFrame(sdf), window=5
        ).spark.collect()
    }
    assert spans == {(1, 1, 6), (2, 3, 8), (4, 1, 8)}
    cleaned = {
        r["doc_id"]: r["text"]
        for r in dedup.remove_repeated_ngrams(
            DataFrame(sdf), window=5
        ).spark.collect()
    }
    assert cleaned == {
        1: "g h i j",
        2: "x y q r",
        3: "u v w completely unique tokens here now",
        4: "",
    }


def test_merge_intervals_touching_and_nested(spark):
    from pandas_spark.operators.dedup import merge_intervals

    rows = [(1, 1, 3), (1, 4, 6), (1, 10, 12), (1, 11, 11), (2, 5, 9)]
    sdf = spark.createDataFrame(rows, "id long, s long, e long")
    got = {
        (r["id"], r["s"], r["e"])
        for r in merge_intervals(sdf, "id", "s", "e").collect()
    }
    # [1,3]+[4,6] touch (token semantics) -> [1,6]; [11,11] nests in [10,12]
    assert got == {(1, 1, 6), (1, 10, 12), (2, 5, 9)}


def test_pq_encode_and_rerank_exact_on_separated_clusters(spark):
    """PQ codes are length-m ints in [0, ksub); on well-separated data
    the ADC shortlist + exact rerank returns the true neighbor first."""
    import numpy as np

    from pandas_spark.frame import DataFrame
    from pandas_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    rng = np.random.default_rng(0)
    base = np.eye(4).repeat(2, axis=1)  # 4 orthogonal 8-dim anchors
    rows = []
    for i in range(40):
        v = base[i % 4] + rng.normal(0, 0.01, 8)
        rows.append((i, [float(x) for x in v]))
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    frame = DataFrame(sdf)
    cb = sim.pq_train(frame, m=4, ksub=4, sample_n=40, iters=8, seed=1)
    assert cb.shape == (4, 4, 2)
    enc = sim.pq_encode(frame, cb)
    codes = enc.spark.select("pq_code").collect()
    assert all(len(r[0]) == 4 and all(0 <= c < 4 for c in r[0]) for r in codes)
    qs = DataFrame(
        sdf.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    got = sim.pq_topk_rerank(frame, qs, cb, k=1, shortlist=5).spark.collect()
    # each query's own vector is its top-1 (cosine 1.0)
    assert {(r["query_id"], r["vec_id"]) for r in got} == {(i, i) for i in range(4)}


def test_ewm_alias_overwrites_existing_column(spark):
    """alias= naming an EXISTING column must replace it in place —
    the mapInPandas schema used to append a duplicate field (fuzzer-
    found RESULT_COLUMN_SCHEMA_MISMATCH on filter -> ewm chains)."""
    from pandas_spark import col
    from pandas_spark.frame import DataFrame
    from pandas_spark.window import ewm_mean

    sdf = spark.createDataFrame(
        [("a", 0, -1.5, 0), ("a", 0, 2.0, 1), ("b", 1, 3.0, 2)],
        "g string, k int, v double, t int",
    )
    e = DataFrame(sdf).filter(col("k") == 0)
    out = ewm_mean(e, "v", span=2, by=["g"], order_by="t", alias="v")
    assert out.spark.columns == ["g", "k", "v", "t"]
    rows = {r["t"]: r["v"] for r in out.spark.collect()}
    # pandas ewm(span=2, adjust=True): [x0, (x1 + x0/3)/(4/3)]
    assert abs(rows[0] - (-1.5)) < 1e-12
    assert abs(rows[1] - ((2.0 + (-1.5) / 3) / (4 / 3))) < 1e-12


def test_repetition_signals_match_reference(spark):
    """Arrow kernel vs the per-document reference on the adversarial
    hand rows AND the real sf0.001 corpus."""
    from pandas_spark import read_parquet
    from pandas_spark.frame import DataFrame
    from pandas_spark.operators import text

    from .references import assert_repetition_matches_reference

    rows = [
        (1, "hello world\nhello world\nunique line\n\nhello world"),
        (2, "spam spam spam spam spam spam"),
        (3, "a b c d e f g h i j k l m n o p"),
        (4, ""),
        (5, None),
        (6, "one two three one two three one two three four"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    for frame in (
        DataFrame(sdf),
        read_parquet(spark, "/root/testdata/sf0.001/documents.parquet"),
    ):
        assert_repetition_matches_reference(
            text.repetition_signals(frame).spark.collect()
        )


def _pq_emb(spark):
    from pandas_spark.frame import DataFrame
    from pyspark.sql import functions as F

    from .conftest import SF_DIR

    return DataFrame(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )


def test_pq_encode_matches_numpy_reference(spark):
    """Codes equal a per-vector numpy argmin over each subspace's
    squared distances to its codebook (ties to the smaller index)."""
    import numpy as np

    from pandas_spark.operators import similarity as sim

    emb = _pq_emb(spark)
    cb = sim.pq_train(emb, m=8, ksub=8, sample_n=512, iters=4, seed=3)
    m, _, dsub = cb.shape
    vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.spark.collect()}
    got = {r["vec_id"]: list(r["pq_code"]) for r in sim.pq_encode(emb, cb).spark.collect()}
    want = {
        i: [
            int(np.argmin(((v[j * dsub : (j + 1) * dsub] - cb[j]) ** 2).sum(-1)))
            for j in range(m)
        ]
        for i, v in vecs.items()
    }
    assert got == want


def test_ewm_empty_frame(spark):
    """mapInPandas hands the kernel ZERO batches on empty input —
    pd.concat([]) raised (fuzzer-found); the kernel now yields nothing."""
    from pandas_spark.frame import DataFrame
    from pandas_spark.window import ewm_mean

    sdf = spark.createDataFrame([], "g string, v double, t int")
    out = ewm_mean(DataFrame(sdf), "v", span=2, by=["g"], order_by="t", alias="e")
    assert out.spark.count() == 0
    assert out.spark.columns == ["g", "v", "t", "e"]


def test_pq_topk_matches_numpy_reference(spark):
    """ADC partial-top-k vs numpy lookup tables: distances summed in
    order (dims within a subspace, then subspaces), sorted by
    (dist, id) — identical rows, bit for bit."""
    import numpy as np

    from pandas_spark.frame import DataFrame
    from pandas_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = _pq_emb(spark)
    qs = DataFrame(
        emb.spark.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    cb = sim.pq_train(emb, m=8, ksub=8, sample_n=512, iters=4, seed=3)
    m, ksub, dsub = cb.shape
    enc = sim.pq_encode(emb, cb)
    got = sorted(tuple(r) for r in sim.pq_topk(enc, qs, cb, k=7).spark.collect())
    codes = [(r["vec_id"], list(r["pq_code"])) for r in enc.spark.collect()]
    want = []
    for q in qs.spark.collect():
        qv = np.asarray(q["embedding"])
        lut = np.zeros((m, ksub))
        for j in range(m):
            for t in range(dsub):
                diff = qv[j * dsub + t] - cb[j][:, t]
                lut[j] += diff * diff
        scored = []
        for i, code in codes:
            d = 0.0
            for j in range(m):
                d += lut[j][code[j]]
            scored.append((float(d), i))
        scored.sort()
        want += [
            (q["query_id"], i, d, rank + 1) for rank, (d, i) in enumerate(scored[:7])
        ]
    assert got == sorted(want)


def test_groupby_rolling_expanding_accessors(spark):
    """df.groupby(g).rolling(2).mean(...) == frame rolling with by=g
    (pandas groupby.rolling surface), incl. the NULL-key mask."""
    import pandas as pd

    from pandas_spark.frame import DataFrame

    rows = [("a", 1.0, 0), ("a", 3.0, 1), ("b", 5.0, 2), (None, 7.0, 3)]
    sdf = spark.createDataFrame(rows, "g string, v double, t int")
    f = DataFrame(sdf).sort_values("t")
    got = {
        r["t"]: r["m"]
        for r in f.groupby("g").rolling(2, min_periods=1).mean("v", alias="m").spark.collect()
    }
    pdf = pd.DataFrame(rows, columns=["g", "v", "t"]).sort_values("t")
    want = pdf.groupby("g")["v"].transform(
        lambda s: s.rolling(2, min_periods=1).mean()
    )
    for t, w in zip(pdf["t"], want):
        g = got[t]
        assert (pd.isna(w) and g is None) or abs(w - g) < 1e-12
    e = {
        r["t"]: r["v_sum"]
        for r in f.groupby("g").expanding().sum("v").spark.collect()
    }
    assert e[1] == 4.0 and e[3] is None


def test_groupby_resample_ngroups_get_group(spark):
    """groupby().resample()/ngroups/get_group (reference groupby.py:
    3591, 812, 846) — incl. NULL-key dropna parity for resample."""
    import pandas as pd

    pdf = pd.DataFrame({
        "g": ["a", "b", "a", None],
        "v": [1.0, 2.0, 3.0, 4.0],
        "ts": pd.to_datetime([
            "2024-01-01 00:05", "2024-01-01 00:50",
            "2024-01-01 01:20", "2024-01-01 01:40",
        ]),
    })
    f = ps.from_pandas(spark, pdf)
    gb = f.groupby("g")
    assert gb.ngroups == pdf.groupby("g").ngroups == 2
    assert sorted(gb.get_group("a").to_pandas()["v"]) == [1.0, 3.0]
    got = gb.resample("1h", on="ts").agg({"v": "sum"}).to_pandas()
    want = (
        pdf.dropna(subset=["g"]).groupby("g").resample("1h", on="ts")[["v"]]
        .sum().reset_index()
    )
    assert sorted(map(tuple, got[["g", "ts", "v"]].values)) == sorted(
        map(tuple, want[["g", "ts", "v"]].values)
    )


def test_qcut_quantile_list_and_duplicates(spark):
    """qcut(q=list) exact percentile edges + duplicates= (tile.py);
    cut(include_lowest=) first-interval closure."""
    import numpy as np
    import pandas as pd

    from pandas_spark.operators.reshape import cut, qcut

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"v": rng.normal(size=200).round(3)})
    f = ps.from_pandas(spark, pdf)
    g = qcut(f, "v", [0, .25, .5, .75, 1], labels=["q1", "q2", "q3", "q4"]).to_pandas()
    w = pd.qcut(pdf["v"], [0, .25, .5, .75, 1], labels=["q1", "q2", "q3", "q4"])
    got = g.sort_values("v")["v_qbin"].values
    want = pd.DataFrame({"v": pdf["v"], "b": w.astype(str)}).sort_values("v")["b"].values
    assert (got == want).all()

    pdf2 = pd.DataFrame({"v": [1.0] * 50 + [2.0, 3.0]})
    f2 = ps.from_pandas(spark, pdf2)
    with pytest.raises(ValueError):
        qcut(f2, "v", [0, .25, .5, .75, 1])
    g2 = qcut(f2, "v", [0, .25, .5, .75, 1], duplicates="drop").to_pandas()
    w2 = pd.qcut(pdf2["v"], [0, .25, .5, .75, 1], duplicates="drop")
    assert sorted(g2["v_qbin"].value_counts().values) == sorted(w2.value_counts().values)

    g3 = cut(f, "v", [-10, 0, 10], include_lowest=True).to_pandas()
    w3 = pd.cut(pdf["v"], [-10, 0, 10], include_lowest=True)
    assert sorted(g3["v_bin"].value_counts().values) == sorted(w3.value_counts().values)


def test_to_parquet_drops_internal_order_column(spark, tmp_path):
    """A merged frame carries a hidden __ord__ order column — it must
    never reach the written dataset (regression: to_parquet wrote
    _sdf raw)."""
    l = ps.DataFrame(spark.createDataFrame([("a", 1)], "g string, x int"))
    r = ps.DataFrame(spark.createDataFrame([("a", 2)], "g string, y int"))
    path = str(tmp_path / "ordleak")
    l.merge(r, on="g").to_parquet(path)
    assert spark.read.parquet(path).columns == ["g", "x", "y"]


def test_ewm_accessor_frame_and_groupby(spark):
    """df.ewm(...)/groupby.ewm(...) accessor objects (window/ewm.py:127)."""
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame({"g": ["a", "a", "a", "b", "b"],
                        "v": [1.0, 2.0, 3.0, 4.0, 5.0], "t": [0, 1, 2, 3, 4]})
    f = ps.from_pandas(spark, pdf)
    got = f.ewm(span=2, order_by="t").mean("v").sort_values("t").to_pandas()
    assert np.allclose(got["v_ewm"].values, pdf["v"].ewm(span=2).mean().values)
    got2 = f.groupby("g").ewm(span=2, order_by="t").std("v").sort_values("t").to_pandas()
    want2 = pdf.groupby("g")["v"].transform(lambda s: s.ewm(span=2).std())
    assert np.allclose(got2["v_ewm_std"].values, want2.values, equal_nan=True)


def test_groupby_sample_weighted(spark):
    """groupby.sample(weights=) — per-group Efraimidis–Spirakis: exact
    per-group counts, weight-zero rows excluded, high-weight rows
    overrepresented."""
    import pandas as pd

    pdf = pd.DataFrame({
        "g": ["a"] * 50 + ["b"] * 50,
        "i": range(100),
        "w": [100.0 if i % 10 == 0 else 1.0 for i in range(100)],
    })
    f = ps.from_pandas(spark, pdf)
    out = f.groupby("g").sample(n=10, seed=3, id_col="i", weights="w").to_pandas()
    assert out.groupby("g").size().tolist() == [10, 10]
    # 5 heavy rows per group at weight 100 vs 45 at weight 1: expect
    # most heavy rows selected
    heavy = (out["i"] % 10 == 0).sum()
    assert heavy >= 6
    # zero weights never selected
    pdf2 = pdf.assign(w=[0.0 if i < 90 else 1.0 for i in range(100)])
    f2 = ps.from_pandas(spark, pdf2)
    out2 = f2.groupby("g").sample(n=10, seed=3, id_col="i", weights="w").to_pandas()
    assert (out2["i"] >= 90).all()


def test_from_pandas_empty_frame_keeps_dtypes(spark):
    """An EMPTY pandas frame is a valid input: schema comes from the
    pandas dtypes (Spark alone cannot infer from zero rows —
    fuzzer-found via an empty generated asof side)."""
    import pandas as pd

    import pandas_spark as ps

    empty = pd.DataFrame({
        "k": pd.Series(dtype="int64"),
        "ts": pd.Series(dtype="datetime64[ns]"),
        "v": pd.Series(dtype="float64"),
        "s": pd.Series(dtype="object"),
    })
    f = ps.from_pandas(spark, empty)
    assert f.to_spark().count() == 0
    assert dict(f.to_spark().dtypes) == {
        "k": "bigint", "ts": "timestamp", "v": "double", "s": "string",
    }


def test_merge_suffix_none_and_indicator_name(spark):
    """Reference merge.py parity (r10 sweep): a None suffix component
    keeps that side's name unsuffixed; BOTH None with an overlap
    raises; indicator=<str> names the indicator column."""
    import pandas as pd
    import pandas_spark as ps

    l = pd.DataFrame({"k": [1, 2, 2], "v": [1.0, 2.0, 3.0]})
    r = pd.DataFrame({"k": [1, 3], "v": [10.0, 20.0]})
    el, er = ps.from_pandas(spark, l), ps.from_pandas(spark, r)

    exp = l.merge(r, on="k", suffixes=(None, "_y"))
    got = el.merge(er, on="k", suffixes=(None, "_y"))
    assert sorted(got.columns) == sorted(exp.columns)

    with pytest.raises(ValueError, match="overlap"):
        el.merge(er, on="k", suffixes=(None, None))

    exp2 = l.merge(r, on="k", how="left", indicator="src")
    got2 = el.merge(er, on="k", how="left", indicator="src").to_pandas()
    assert sorted(got2.columns) == sorted(exp2.columns)
    assert sorted(got2["src"].astype(str)) == sorted(exp2["src"].astype(str))


def test_cut_labels_false_returns_codes(spark):
    """pd.cut(labels=False) returns integer bin CODES — distinct from
    labels=None (interval strings); reference tile.py (r10 sweep)."""
    import pandas as pd
    import pandas_spark as ps
    from pandas_spark.operators.reshape import cut

    pdf = pd.DataFrame({"v": [1.0, 3.5, 7.2, 2.2, 9.9, 5.0, None]})
    e = ps.from_pandas(spark, pdf)
    got = cut(e, "v", bins=[0, 3, 6, 10], labels=False).to_pandas()
    got = got.sort_values("v", na_position="last")["v_bin"]
    exp = pd.cut(pdf.sort_values("v", na_position="last")["v"],
                 bins=[0, 3, 6, 10], labels=False)
    assert [None if pd.isna(x) else int(x) for x in got] == [
        None if pd.isna(x) else int(x) for x in exp
    ]


def test_get_dummies_drop_first_and_dummy_na(spark):
    """reference encoding.py options (r10 sweep): drop_first = k-1
    encoding, dummy_na = NaN indicator column."""
    import pandas as pd
    import pandas_spark as ps
    from pandas_spark.operators.reshape import get_dummies

    pdf = pd.DataFrame({"c": ["a", "b", None, "c", "b"], "x": range(5)})
    e = ps.from_pandas(spark, pdf)
    got = get_dummies(e, ["c"], drop_first=True, dummy_na=True).to_pandas()
    exp = pd.get_dummies(pdf, columns=["c"], drop_first=True, dummy_na=True,
                         dtype="int64")
    # pandas names the NaN column 'c_nan'
    assert sorted(got.columns) == sorted(exp.columns)
    g = got.sort_values("x").reset_index(drop=True)
    x = exp.sort_values("x").reset_index(drop=True)
    for c in ("c_b", "c_c", "c_nan"):
        assert list(g[c]) == list(x[c]), c


def test_read_csv_multiline_quoted_newlines(tmp_path, spark):
    """Quoted fields with embedded newlines (pandas parses these by
    default; Spark needs multiLine — r10 sweep found the default
    silently splitting such rows)."""
    from pandas_spark.sources.io import read_csv

    p = tmp_path / "m.csv"
    p.write_text('id,txt\n1,"line1\nline2"\n2,plain\n')
    df = read_csv(spark, str(p), multiline=True)
    rows = {r["id"]: r["txt"] for r in df.spark.collect()}
    assert rows == {1: "line1\nline2", 2: "plain"}


def test_crosstab_normalize_margins_matrix_matches_pandas(spark):
    """r11: the full pandas normalize × margins matrix (pivot.py:982):
    'all' keeps both margins /grand (corner 1.0), 'index' keeps only
    the margin ROW, 'columns' only the margin COLUMN."""
    from pandas_spark.operators.reshape import crosstab
    from pandas_spark.sources.io import from_pandas
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "a": ["x", "x", "y", "y", "y", "z", "z", "x"],
            "b": ["p", "q", "p", "p", "q", "q", "p", "p"],
        }
    )
    f = from_pandas(spark, pdf)
    for norm in ["all", "index", "columns", True]:
        want = pd.crosstab(pdf.a, pdf.b, normalize=norm, margins=True)
        got = (
            crosstab(f, "a", "b", normalize=norm, margins=True)
            .spark.toPandas()
            .set_index("a")
        )
        assert set(got.index) == set(want.index), norm
        assert set(got.columns) == set(want.columns), norm
        for r in want.index:
            for c in want.columns:
                assert abs(want.loc[r, c] - got.loc[r, c]) < 1e-12, (norm, r, c)


def test_crosstab_margins_values_still_raises(spark):
    from pandas_spark.operators.reshape import crosstab
    from pandas_spark.sources.io import from_pandas
    import pandas as pd

    pdf = pd.DataFrame({"a": ["x"], "b": ["p"], "v": [1.0]})
    f = from_pandas(spark, pdf)
    with pytest.raises(NotImplementedError, match="count mode"):
        crosstab(f, "a", "b", values="v", aggfunc="mean", margins=True)


def test_get_dummies_single_pass_job_count_and_typed_sort(spark):
    """r11 (round-10 verdict #5): category discovery is O(1) jobs —
    one approx-distinct guard + one stacked collect_set per DTYPE
    group — instead of one distinct scan per column. Also checks
    drop_first's sorted-first category is the TYPED sort on numeric
    columns (2 < 10, not '10' < '2')."""
    from pandas_spark.operators.reshape import get_dummies
    from pandas_spark.sources.io import from_pandas
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "s1": ["b", "a", "c", "a"] * 5,
            "s2": ["x", "y", "x", "z"] * 5,
            "s3": ["m", "m", "n", "o"] * 5,
            "i1": [10, 2, 33, 2] * 5,
            "keep": range(20),
        }
    )
    f = from_pandas(spark, pdf)
    sc = spark.sparkContext
    sc.setJobGroup("dummies_jobs", "job-count probe")
    try:
        got = get_dummies(
            f, ["s1", "s2", "s3", "i1"], drop_first=True
        ).to_pandas()
    finally:
        sc.setJobGroup(None, None)
    ids = sc.statusTracker().getJobIdsForGroup("dummies_jobs")
    # 1 approx guard + 2 dtype groups (string, bigint) + result
    # collection; AQE can split each exchange into its own job.
    # The old per-column path ran 4 discovery jobs alone (≈8+ with AQE).
    assert len(ids) <= 7, f"get_dummies launched {len(ids)} jobs"
    exp = pd.get_dummies(
        pdf, columns=["s1", "s2", "s3", "i1"], drop_first=True, dtype="int32"
    )
    assert set(exp.columns) == set(got.columns)
    exp = exp.sort_values("keep").reset_index(drop=True)
    got = got.sort_values("keep").reset_index(drop=True)
    for c in exp.columns:
        assert (exp[c].values == got[c].values).all(), c


def test_get_dummies_high_cardinality_raises_before_materializing(spark):
    from pandas_spark.operators.reshape import get_dummies, _MAX_PIVOT_VALUES
    import pandas_spark as ps

    f = ps.DataFrame(
        spark.range(_MAX_PIVOT_VALUES * 3).selectExpr(
            "CAST(id AS STRING) AS hc", "id % 3 AS keep"
        )
    )
    with pytest.raises(ValueError, match="distinct values"):
        get_dummies(f, ["hc"])


def test_read_csv_multiline_differential_and_loud_default(tmp_path, spark):
    """r11 (r10 verdict #8): the multiline divergence is now LOUD —
    the default path (on_bad_lines='error' → FAILFAST) RAISES on a
    quoted-embedded-newline CSV instead of silently splitting the row;
    multiline=True matches pandas' rows exactly; on_bad_lines='skip'
    drops the malformed fragments."""
    import pandas as pd

    from pandas_spark.sources.io import read_csv

    p = tmp_path / "emb.csv"
    p.write_text('id,txt,v\n1,"hello\nworld",2.5\n2,plain,3.5\n')
    exp = pd.read_csv(str(p))

    # opt-in path: bit-exact pandas rows
    got = read_csv(spark, str(p), multiline=True).to_pandas()
    got = got.sort_values("id").reset_index(drop=True)
    assert got["txt"].tolist() == exp["txt"].tolist()
    assert got["v"].tolist() == exp["v"].tolist()

    # default path: loud failure, not silent row-splitting
    with pytest.raises(Exception, match="FAILED_READ_FILE|Malformed|FAILFAST"):
        read_csv(spark, str(p)).spark.collect()

    # explicit opt-out: malformed fragments dropped, clean row survives
    skipped = read_csv(spark, str(p), on_bad_lines="skip").spark.collect()
    ids = sorted(str(r["id"]) for r in skipped if r["id"] is not None)
    assert "2" in ids


def test_read_csv_well_formed_unaffected_by_failfast(tmp_path, spark):
    import pandas as pd

    from pandas_spark.sources.io import read_csv

    p = tmp_path / "ok.csv"
    pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]}).to_csv(p, index=False)
    got = read_csv(spark, str(p)).to_pandas().sort_values("a").reset_index(drop=True)
    assert got["a"].tolist() == [1, 2, 3] and got["b"].tolist() == ["x", "y", "z"]


def test_bucket_pairs_arrow_engine_matches_hof(spark):
    """r12: the vectorized in-bucket pair expansion emits exactly the
    HOF form's distinct ordered pair set (dense buckets, a singleton
    bucket, an over-cap bucket, and cross-band duplicate pairs)."""
    from pandas_spark.operators.dedup import bucket_pairs

    rows = []
    # band 0: one dense bucket (ids 0..5), one singleton (id 9)
    rows += [(i, 0, 7) for i in range(6)] + [(9, 0, 1)]
    # band 1: the same ids re-collide pairwise (duplicates for distinct)
    rows += [(0, 1, 3), (1, 1, 3), (4, 1, 3), (5, 1, 3)]
    # band 2: an over-cap bucket that must be dropped entirely
    rows += [(i, 2, 5) for i in range(8)]
    banded = spark.createDataFrame(rows, "doc_id long, band int, bucket int")
    hof = bucket_pairs(banded, "doc_id", bucket_cap=6, engine="hof")
    arrow = bucket_pairs(banded, "doc_id", bucket_cap=6, engine="arrow")
    assert "MapInArrow" in arrow._jdf.queryExecution().executedPlan().toString()
    got_h = {(r["id1"], r["id2"]) for r in hof.collect()}
    got_a = {(r["id1"], r["id2"]) for r in arrow.collect()}
    assert got_a == got_h and len(got_a) == 15  # C(6,2) from band 0


def test_neardup_broadcast_verify_matches_join_path(spark):
    """r12: the broadcast-matrix pair scorer is BIT-identical to the
    two-join + pair_cosine_col path. (NULL vectors are out of scope:
    the banding kernel upstream of BOTH paths has never accepted
    them; the broadcast scorer's null guard is defensive only.)"""
    import math
    import random

    import pandas_spark as ps
    from pandas_spark.operators.similarity import embedding_neardup_pairs

    rng = random.Random(3)
    data = []
    for i in range(60):
        base = [rng.gauss(0, 1) for _ in range(8)]
        data.append((i, base))
        if i % 7 == 0:  # near-clone → true pairs exist
            data.append((1000 + i, [x + rng.gauss(0, 0.01) for x in base]))
    f = ps.DataFrame(
        spark.createDataFrame(data, "vec_id long, embedding array<double>")
    )
    args = dict(
        id_col="vec_id", vec_col="embedding", threshold=0.2, dim=8,
        bands=12, rows=2,
    )
    f._rows_max = len(data)  # proven-small → broadcast verify
    bc = {(r["id1"], r["id2"]): r["cosine"]
          for r in embedding_neardup_pairs(f, **args).spark.collect()}
    f2 = ps.DataFrame(f._sdf)  # proof dropped → join path
    assert getattr(f2, "_rows_max", None) is None
    jn = {(r["id1"], r["id2"]): r["cosine"]
          for r in embedding_neardup_pairs(f2, **args).spark.collect()}
    assert bc.keys() == jn.keys() and len(bc) > 0
    for k in bc:
        assert bc[k] == jn[k] or (math.isnan(bc[k]) and math.isnan(jn[k]))


def test_suite_neardup_takes_broadcast_verify_path(spark):
    """r12 guard: the suite's `_emb` must forward the scan's footer row
    bound through its row-preserving cast — without it the
    embedding_neardup_pairs broadcast-verify gate silently falls back
    to the two vector-fetch joins (the exact regression found when the
    optimization first shipped). Pin the plan shape as built FROM THE
    SUITE: no joins, pair expansion + scoring as Arrow kernels."""
    import os

    from pandas_spark import suite

    sdf = suite.queries()["sim_neardup_lsh"](
        spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    )
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "MapInArrow" in plan

"""Differential tests for the packed shingle+signature Arrow kernel
(r12): the vectorized xxHash64 must be bit-identical to Spark's
``xxhash64``, and ``_shingle_sig_udf`` must reproduce the JVM chain it
replaced — ``array_distinct(transform(shingles_expr, xxhash64))`` +
``_sig_udf`` — shingle set for shingle set, signature for signature,
on the corpus AND on every edge class (NULL, empty, whitespace-only,
k<n, k==n, duplicate shingles, unicode, 32-byte stripe boundaries)."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as SF

from pandas_spark import fshim as F
from pandas_spark.operators import dedup
from pandas_spark.operators.text import normalize_expr, shingles_expr

from .conftest import SF_DIR


def _np_xxh64(strings: list[str | None]) -> list[int | None]:
    xxh = dedup._build_xxh64()
    enc = [s.encode("utf-8") for s in strings if s is not None]
    out: list[int | None] = [None] * len(strings)
    if enc:
        lens = np.array([len(e) for e in enc], dtype=np.int64)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        buf = np.frombuffer(b"".join(enc) + b"\0" * 32, dtype=np.uint8)
        hs = xxh(buf, starts, lens).astype(np.int64)
        it = iter(hs)
        for i, s in enumerate(strings):
            if s is not None:
                out[i] = int(next(it))
    return out


def test_xxh64_matches_spark_on_edges_and_fuzz(spark):
    rng = random.Random(7)
    cases: list[str] = ["", "a", "ab", "abc", "abcd", "abcde"]
    # every length class around the 32-byte stripe / 8-byte word / 4-byte
    # word / byte-tail boundaries
    cases += ["x" * n for n in (7, 8, 9, 15, 16, 17, 31, 32, 33, 63, 64, 65, 127, 128)]
    cases += ["héllo wörld ünïcode テスト 漢字", "mixed tail é", "ß" * 20]
    # 4-byte UTF-8 (surrogate-pair chars) and multi-stripe lengths —
    # a 2000-byte input runs ~60 stripe iterations of the main loop
    cases += ["𝕒𝕓𝕔😀🎉" * k for k in (1, 2, 7, 40, 100)]
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 éüößテ漢𝕒😀"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 200)))
        for _ in range(300)
    ]
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(200, 3000)))
        for _ in range(30)
    ]
    mine = _np_xxh64(cases)
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, s string"
    )
    theirs = {
        r["i"]: r["h"]
        for r in df.select("i", SF.xxhash64("s").alias("h")).collect()
    }
    for i, c in enumerate(cases):
        assert mine[i] == theirs[i], (i, repr(c[:40]), len(c.encode()))


_EDGE_DOCS = [
    (0, None),
    (1, ""),
    (2, "   \t\n  "),
    (3, "one"),
    (4, "one two three four"),          # k < n
    (5, "one two three four five"),     # k == n
    (6, "one two three four five six"),
    (7, "a a a a a a a a"),             # duplicate shingles
    (8, "Hello, WORLD!! foo--bar baz?? qux 123 end"),
    (9, "ünïcode wörter müssen auch fünf stück sein ja"),
    (10, "x" * 40 + " tok b c d e f"),   # ≥32-byte shingles
]


def _edge_plus_corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("i"), F.col("text")
    )
    edge = spark.createDataFrame(_EDGE_DOCS, "i long, text string").withColumn(
        "i", F.col("i") + F.lit(10_000_000)
    )
    return docs.unionByName(edge)


@pytest.mark.parametrize("num_hashes,shingle_n", [(64, 5), (16, 3)])
def test_packed_kernel_matches_jvm_chain(spark, num_hashes, shingle_n):
    df = _edge_plus_corpus(spark)
    # old JVM chain: hashed shingle sets + _sig_udf signature
    jvm_s = F.array_distinct(
        F.transform(shingles_expr(F.col("text"), shingle_n), lambda sh: F.xxhash64(sh))
    )
    old = dedup.minhash_signature(
        df.withColumn("__s__", jvm_s),
        "text",
        num_hashes,
        shingle_n,
        shingles_col="__s__",
    ).select("i", "__s__", "minhash")
    new = df.select(
        "i",
        dedup._shingle_sig_udf(num_hashes, shingle_n)(
            normalize_expr(F.col("text"))
        ).alias("p"),
    ).select("i", F.col("p")["s"].alias("__s__"), F.col("p")["minhash"].alias("minhash"))
    old_rows = {r["i"]: r for r in old.collect()}
    new_rows = {r["i"]: r for r in new.collect()}
    assert set(old_rows) == set(new_rows)
    for i, o in old_rows.items():
        n = new_rows[i]
        # shingle SETS equal (kernel emits sorted; JVM first-occurrence)
        assert sorted(o["__s__"]) == sorted(n["__s__"]), i
        # signatures bit-identical
        assert list(o["minhash"]) == list(n["minhash"]), i

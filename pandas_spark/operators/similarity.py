"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and an LSH
(random-hyperplane) bucketed variant as the scale path — at 100 TB the
bucketed join touches ~1/2^bits of the corpus per query instead of all
of it. Exact top-k, pair verification and PQ score in Arrow-batched
numpy kernels; IVF candidate scoring stays a JVM-side
``F.aggregate``/``F.zip_with`` fold.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame as SparkDF, Window as W
from pandas_spark import fshim as F  # backtick-safe F.col facade
from pandas_spark.dtypes import qi

from pandas_spark.frame import DataFrame


def dot_expr(a: Column, b: Column) -> Column:
    # cast each element to double BEFORE multiplying — the oracle side
    # (DuckDB ::DOUBLE[]) promotes first, and a float32 product differs
    # from the double product by ~1e-8 rel, enough to flip a
    # fixed-decimal rounding in a hash comparison
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def pair_cosine_col(a: Column, b: Column) -> Column:
    """Vectorized pairwise cosine: one Arrow batch in, one
    ``(n,dim)·(n,dim)`` row-wise numpy dot out — replaces the
    per-element interpreted HOF fold on the pair-scoring hot paths
    (LSH/IVF rerank, blocked near-dup). NULL on either side → NULL,
    matching the HOF's aggregate-over-null semantics."""

    @F.pandas_udf("double")
    def _pc(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        out = pd.array([pd.NA] * len(va), dtype="Float64")
        # process the Arrow batch in slices: a 65k-row batch of two
        # 64-dim vector columns would np.stack ~70 MB per side per
        # call, and the glibc high-water mark never returns to the OS —
        # at 32-64 concurrent workers that is tens of GB of resident
        # Python (the 1000×-decade kernel-OOM). 8k slices bound each
        # worker's numpy peak at ~8 MB with identical results.
        step = 8192
        for lo in range(0, len(va), step):
            sa = va.iloc[lo : lo + step]
            sb = vb.iloc[lo : lo + step]
            mask = sa.notna().to_numpy() & sb.notna().to_numpy()
            if not mask.any():
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in sa[mask]])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in sb[mask]])
            with np.errstate(divide="ignore", invalid="ignore"):
                d = np.einsum("ij,ij->i", A, B)
                c = d / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
            idx = np.flatnonzero(mask) + lo
            out[idx] = c
        return pd.Series(out, dtype="Float64")

    return _pc(a, b)


# rows / leaf bytes of one Arrow batch: the per-partition target of
# _arrow_stage_coalesce (the buffer pool chunks by the same row count)
_ARROW_PART_ROWS = 65536
_ARROW_PART_BYTES = 32 << 20


def _arrow_stage_coalesce(sdf, rows_max=None):
    """Cap a PROVEN-tiny input's execution fan-out before an Arrow
    kernel stage (r12; guide §2.4/§4.2).

    A ≤2 000-row dimension table becomes a LocalRelation at the scan
    layer, and LocalTableScan slices itself ``defaultParallelism`` ways
    at execution — 32 ``mapInArrow`` workers of 62 rows each at
    local[32], each paying the JVM↔Python round trip for one
    microsecond matmul (driver-measured 4x anti-scaling 8c→32c).
    Partition count must follow DATA size: one Arrow batch (~64 k rows
    / ~32 MB of leaf bytes) per partition, the buffer pool's own rule.
    ``coalesce`` is a NARROW dependency (no exchange), and the gate
    only fires when the computed count is BELOW the core ceiling — a
    production-scale scan (leaf bytes >> cap) is never touched, so no
    large input can ever be squeezed onto few cores by this path."""
    from pandas_spark._sizing import (
        bytes_sized_parts,
        plan_input_bytes,
        rows_sized_parts,
    )

    ceiling = sdf.sparkSession.sparkContext.defaultParallelism
    parts = rows_sized_parts(rows_max, _ARROW_PART_ROWS, ceiling)
    if parts is None:
        parts = bytes_sized_parts(plan_input_bytes(sdf), _ARROW_PART_BYTES, ceiling)
    if parts is not None and parts < ceiling:
        return sdf.coalesce(parts)
    return sdf


def _vec_matrix(va):
    """Arrow list-of-float column → (n, dim) float64 matrix, zero-copy
    from the flat values buffer. The mapInPandas/pandas_udf form
    converts every cell into its own small Python list/numpy object
    (65k allocations per batch) — the resident high-water of that churn
    across 32 workers was one of the 10⁴×-decade kernel-OOMs, and the
    same boxing dominated the pandas_udf PQ encode end-to-end."""
    import pyarrow as pa

    t = va.type
    if pa.types.is_fixed_size_list(t):
        # flatten(), not .values: on a SLICED FixedSizeListArray the
        # child ignores the slice offset (the PQ encode kernel slices)
        flat = va.flatten().to_numpy(zero_copy_only=False)
        return flat.reshape(len(va), t.list_size).astype(np.float64, copy=False)
    offsets = va.offsets.to_numpy(zero_copy_only=False)
    widths = np.diff(offsets)
    if len(widths) and (widths == widths[0]).all():
        flat = va.values.to_numpy(zero_copy_only=False)
        return (
            flat[offsets[0] : offsets[-1]]
            .reshape(len(va), widths[0])
            .astype(np.float64, copy=False)
        )
    return np.stack([np.asarray(v, dtype=np.float64) for v in va.to_pylist()])


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query (brute force).

    Queries are collected to the driver (bounded — queries are the
    small side by contract, same bound as a broadcast) and ride into an
    Arrow-batched ``mapInArrow`` kernel as a ``(dim × q)`` matrix; each
    corpus partition scores itself with one numpy matmul per batch and
    emits only its PARTIAL top-k per query. The shuffle input is
    ``partitions × q × k`` narrow rows — not the ``n × q`` scored cross
    product — so the final per-query window is O(1) regardless of
    corpus size. Zero-norm / NULL corpus vectors are excluded (their
    cosine is undefined). Ties break on corpus id for determinism.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = corpus.spark.sparkSession
    qrows = queries.spark.select(query_id_col, vec_col).collect()
    part_schema = StructType(
        [
            StructField(query_id_col, queries.spark.schema[query_id_col].dataType),
            StructField(id_col, corpus.spark.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    c = corpus.spark.select(id_col, vec_col).filter(F.col(vec_col).isNotNull())
    c = _arrow_stage_coalesce(c, getattr(corpus, "_rows_max", None))
    if not qrows:
        mapped = spark.createDataFrame([], part_schema)
    else:
        qids = [r[0] for r in qrows]
        Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        with np.errstate(divide="ignore", invalid="ignore"):
            QnT = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).T.copy()  # (dim, q)
        nq = len(qids)

        def gen(batches):
            import pyarrow as pa

            buf_s = [[] for _ in range(nq)]
            buf_i = [[] for _ in range(nq)]
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                M = _vec_matrix(rb.column(rb.schema.get_field_index(vec_col)))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cn = np.linalg.norm(M, axis=1)
                    S = (M @ QnT) / cn[:, None]  # (n, q) cosines
                ids = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                    zero_copy_only=False
                )
                for j in range(nq):
                    s = S[:, j]
                    if n > k:
                        part = np.argpartition(-s, k - 1)[:k]
                        finite = s[part][~np.isnan(s[part])]
                        if finite.size == 0:
                            continue
                        # keep score ties at the boundary so the exact
                        # id tie-break below stays globally correct
                        sel = np.flatnonzero(s >= finite.min())
                    else:
                        sel = np.flatnonzero(~np.isnan(s))
                    buf_s[j].append(s[sel])
                    buf_i[j].append(ids[sel])
            frames = []
            for j in range(nq):
                if not buf_s[j]:
                    continue
                top = (
                    pd.DataFrame(
                        {
                            id_col: np.concatenate(buf_i[j]),
                            "cosine": np.concatenate(buf_s[j]),
                        }
                    )
                    .sort_values(["cosine", id_col], ascending=[False, True], kind="mergesort")
                    .head(k)
                )
                top.insert(0, query_id_col, [qids[j]] * len(top))
                frames.append(top)
            if frames:
                from pyspark.sql.pandas.types import to_arrow_schema

                out_pdf = pd.concat(frames, ignore_index=True)
                yield pa.RecordBatch.from_pandas(
                    out_pdf, schema=to_arrow_schema(part_schema), preserve_index=False
                )

        mapped = c.mapInArrow(gen, part_schema)
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    out = (
        mapped.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .select(query_id_col, id_col, "cosine", F.col("__rn__").alias("rank"))
    )
    return DataFrame(out)


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(bits)]


def _banded(sdf: SparkDF, id_col: str, vec_col: str, planes, bands: int, rows: int) -> SparkDF:
    """(id, band, bucket) table — the only thing that shuffles.

    Bucketing is ONE Arrow-batched matmul per partition: (batch × dim)
    @ (dim × bands·rows) sign bits, folded to a bucket int per band —
    numpy SIMD instead of bands·rows interpreted HOF dot products per
    vector (measured >10× on the 64-dim test corpus, and the
    expression tree stays O(1) so Catalyst analysis is instant).
    Sign quantization only affects which bucket a borderline vector
    lands in — recall, never correctness (exact rerank follows).
    """
    from pyspark.sql.types import ArrayType, IntegerType

    P = np.asarray(planes, dtype=np.float64).T  # (dim, bands*rows)
    weights = (1 << np.arange(rows, dtype=np.int64))  # bit weights in a band

    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])  # (n, dim)
        S = (M @ P) > 0                                # (n, bands*rows) signs
        S = S.reshape(len(vs), -1, len(weights))       # (n, bands, rows)
        B = (S * weights).sum(axis=2).astype(np.int32)  # (n, bands)
        return pd.Series(list(B))

    return sdf.select(
        F.col(id_col),
        F.posexplode(_buckets(F.col(vec_col))).alias("band", "bucket"),
    )


def _cap_buckets(banded: SparkDF, bucket_cap: int | None) -> SparkDF:
    """Drop pathological buckets (near-dup megaclusters): a bucket of m
    members yields O(m²) candidate pairs, the thing that blows up on
    web-scale corpora. Capped buckets lose recall only for items whose
    EVERY band is oversubscribed — at a sane cap that means a giant
    duplicate cluster, which exact dedup already collapses."""
    if bucket_cap is None:
        return banded
    # window count on the join key — one exchange the downstream
    # bucket join reuses, instead of a groupBy+join double shuffle
    w = W.partitionBy("band", "bucket")
    return (
        banded.withColumn("__bsz__", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz__") <= bucket_cap)
        .drop("__bsz__")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bands: int = 24,
    rows: int = 3,
    seed: int = 42,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Approximate top-k: banded random-hyperplane LSH candidates, then
    exact cosine rerank. At scale each query probes ``bands`` buckets
    (~bands/2^rows of the corpus) instead of all of it; the candidate
    join is an equi-join on (band, bucket) against the broadcast query
    probes — the corpus never shuffles its vectors, only (id, band,
    bucket) triples. Recall is tuned by (bands, rows); the suite checks
    it against the exact ``cosine_topk`` oracle."""
    planes = _hyperplanes(dim, bands * rows, seed)
    c = corpus.spark.select(F.col(id_col), F.col(vec_col).alias("__cv__"))
    cb = _cap_buckets(_banded(c, id_col, "__cv__", planes, bands, rows), bucket_cap)
    q = queries.spark.select(F.col(query_id_col), F.col(vec_col).alias("__qv__"))
    qb = _banded(q, query_id_col, "__qv__", planes, bands, rows)
    # distinct candidate (query, corpus-id) pairs — narrow columns only
    cand = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .groupBy(query_id_col, id_col)
        .agg(F.count(F.lit(1)).alias("__nb__"))
        .drop("__nb__")
    )
    scored = (
        cand.join(c, id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn("cosine", pair_cosine_col(F.col("__cv__"), F.col("__qv__")))
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    out = (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .select(query_id_col, id_col, "cosine", F.col("__rn__").alias("rank"))
    )
    return DataFrame(out)


def _spherical_kmeans(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Driver-side spherical k-means over a bounded sample.

    Deterministic (seeded kmeans++ init, fixed iteration count).
    Cosine geometry: rows are L2-normalized, assignment is max dot
    product, centroids are renormalized means. Returns (k, dim)
    unit-norm centroids.
    """
    rng = np.random.RandomState(seed)
    X = np.asarray(X, dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n = len(Xn)
    k = min(k, n)
    # kmeans++ seeding on cosine distance (1 - dot)
    first = int(rng.randint(n))
    cents = [Xn[first]]
    d2 = 1.0 - Xn @ cents[0]
    for _ in range(1, k):
        p = np.maximum(d2, 0)
        tot = p.sum()
        if tot <= 0:
            idx = int(rng.randint(n))
        else:
            idx = int(rng.choice(n, p=p / tot))
        cents.append(Xn[idx])
        d2 = np.minimum(d2, 1.0 - Xn @ cents[-1])
    C = np.stack(cents)
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 1e-12:
                    C[j] = m / nrm
    return C


def _cells_expr(C: np.ndarray, nprobe: int, v: Column) -> Column:
    """JVM-side centroid assignment: top-``nprobe`` cells by dot
    product as a pure Catalyst expression — the centroid matrix rides
    as literal arrays (k·dim doubles), one HOF dot per cell.

    Replaces the Arrow-UDF assignment on the big-corpus paths: the
    per-row object churn of converting millions of vector cells into
    numpy objects retained gigabytes of worker RSS (glibc high-water)
    at the 10⁴× decade, while the interpreted HOF fold is
    allocation-free and comparable in wall time. Tie-break matches
    ``np.argsort(-S, kind='stable')``: equal dot → smaller cell index
    first (encoded as (score, -index) struct ordering)."""
    # ONE nested-array literal node for the whole centroid matrix —
    # spelling it as k·dim scalar literals made the optimizer traverse
    # a 4096-node tree on every rule pass (~4 s of fixed analysis cost
    # per plan that referenced it)
    c_lit = F.lit([[float(x) for x in row] for row in C])
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(len(C) - 1)),
        lambda j: F.struct(
            F.aggregate(
                F.zip_with(
                    v,
                    F.element_at(c_lit, j + 1),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
            (-j).alias("ni"),
        ),
    )
    if nprobe == 1:
        best = F.array_max(pairs)
        return F.array((-best["ni"]).cast("int"))
    srt = F.reverse(F.array_sort(pairs))
    return F.transform(
        F.slice(srt, 1, nprobe), lambda p: (-p["ni"]).cast("int")
    )


def _bounded_hash_sample(c: SparkDF, id_col: str, vec_alias: str, sample_n: int) -> list:
    """Deterministic k-means training sample whose DRIVER RECEIPT is
    O(sample_n) at any corpus size.

    A bare ``orderBy(hash).limit(sample_n).collect()`` compiles to
    TakeOrderedAndProject, whose executeCollect ships each task's own
    top-``sample_n`` to the driver — 30 tasks × 100k × 64-dim vectors
    ≈ 1 GB, which blew spark.driver.maxResultSize at the 1000× decade.
    Prefiltering to the smallest ~1.2·sample_n hash values first (one
    cheap count + a map-only filter) caps every task's contribution at
    its filtered partition size, so the driver receives ~1.2·sample_n
    rows total; the final ordered limit over that thin set returns the
    exact same deterministic sample (the hash-threshold filter keeps a
    superset of the global hash-order top-sample_n; headroom is
    20% + 6·√sample_n so shortfall is ~impossible even at small
    sample_n, and an exact fallback re-collects unfiltered if the
    thin set still comes up short — at that point sample_n is tiny,
    so the TakeOrderedAndProject receipt is bounded anyway).
    """
    m = 1 << 31
    h = F.pmod(F.xxhash64(F.col(id_col)), F.lit(m))
    n = c.count()
    filtered = c
    if n > sample_n:
        headroom = 1.2 * sample_n + 6.0 * sample_n ** 0.5
        frac = min(1.0, headroom / n)
        filtered = c.filter(h < int(frac * m))
    def receive(sdf):
        """Driver receipt as a (rows, dim) float64 matrix — toArrow()
        reads the flat list buffer (no per-cell Python boxing; the
        boxed .collect() was a measured pq_train cost at sample_n=100k)."""
        q = sdf.orderBy(h.asc(), F.col(id_col).asc()).limit(sample_n).select(vec_alias)
        tbl = q.toArrow()
        if tbl.num_rows == 0:
            return np.empty((0, 0))
        return _vec_matrix(tbl.column(0).combine_chunks())

    rows = receive(filtered)
    if len(rows) < min(sample_n, n) and filtered is not c:
        # Headroom filter under-delivered (probabilistically rare):
        # fall back to the exact unfiltered ordered limit.
        rows = receive(c)
    return rows


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k_cells: int = 8,
    nprobe: int = 4,
    sample_n: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the centroid-quantizer
    scale path alongside ``cosine_topk_lsh``.

    Train: spherical k-means on a BOUNDED deterministic sample
    (``orderBy(xxhash64(id)).limit(sample_n)`` — collect stays ≤
    sample_n·dim doubles no matter the corpus size; at 100 TB the
    sample is still ~50 MB). Index: each corpus vector maps to its
    nearest centroid cell — one Arrow matmul per batch, map-only, no
    shuffle. Search: each query probes its ``nprobe`` nearest cells;
    candidates come from an equi-join on cell id (the corpus shuffles
    narrow (cell, id) pairs at most once and can be pre-partitioned /
    bucketed by cell for repeated query batches); exact cosine rerank +
    per-query top-k window. Probing nprobe/k_cells of the corpus
    replaces the brute-force scan; recall is tuned by ``nprobe`` and
    the suite checks it against the exact ``cosine_topk`` oracle.

    Reference parity: pandas has no ANN surface; this covers the
    training-pipeline similarity-search requirement (IVF variant).
    """
    c = corpus.spark.select(F.col(id_col), F.col(vec_col).alias("__cv__"))
    sample = _bounded_hash_sample(c, id_col, "__cv__", sample_n)
    C = _spherical_kmeans(np.asarray(sample), k_cells, iters, seed)

    cc = c.withColumn(
        "__cell__", F.element_at(_cells_expr(C, 1, F.col("__cv__")), 1)
    ).withColumn("__cn__", norm_expr(F.col("__cv__")))
    q = queries.spark.select(F.col(query_id_col), F.col(vec_col).alias("__qv__"))
    qc = q.select(
        query_id_col,
        "__qv__",
        norm_expr(F.col("__qv__")).alias("__qn__"),
        F.explode(_cells_expr(C, nprobe, F.col("__qv__"))).alias("__cell__"),
    )
    # Candidate scoring stays JVM-SIDE (HOF dot over the zipped
    # vectors, norms precomputed once per side before the join): the
    # candidate set is corpus·nprobe/k_cells rows, and routing it
    # through an Arrow python UDF made every resident worker buffer
    # gigabytes of vector batches (kernel OOM at the 10⁴× decade).
    # Then IMMEDIATELY project to (query, id, cosine): the rerank
    # windows must shuffle 24-byte rows, not rows still carrying two
    # dim-sized vectors.
    scored = (
        cc.join(F.broadcast(qc), "__cell__")
        .withColumn(
            "cosine",
            dot_expr(F.col("__cv__"), F.col("__qv__"))
            / (F.col("__cn__") * F.col("__qn__")),
        )
        .select(query_id_col, "__cell__", F.col(id_col), "cosine")
    )
    # two-level top-k: first per (query, probed cell) — queries×nprobe
    # partitions, so no single task ever sorts a whole query's
    # candidate set (≈ corpus·nprobe/k_cells rows) — then a trivial
    # global pass over ≤ queries·nprobe·k survivors
    w_cell = W.partitionBy(query_id_col, "__cell__").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    survivors = (
        scored.withColumn("__rn__", F.row_number().over(w_cell))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__", "__cell__")
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    out = (
        survivors.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .select(query_id_col, id_col, "cosine", F.col("__rn__").alias("rank"))
    )
    return DataFrame(out)


def blocked_neardup_pairs(
    frame: DataFrame,
    block_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine near-dup pairs within a blocking key (label,
    source, shard…): the deterministic alternative to LSH blocking —
    the quadratic term is bounded per block, the block equi-join is the
    only shuffle, and recall within a block is 1."""
    sdf = frame.spark.select(F.col(block_col), F.col(id_col), F.col(vec_col).alias("__v__"))
    l, r = sdf.alias("l"), sdf.alias("r")
    out = (
        l.join(
            r,
            (F.col(f"l.{block_col}") == F.col(f"r.{block_col}"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .withColumn("cosine", pair_cosine_col(F.col("l.__v__"), F.col("r.__v__")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"l.{id_col}").alias("id1"),
            F.col(f"r.{id_col}").alias("id2"),
            "cosine",
        )
    )
    return DataFrame(out)


def _pair_cosine_broadcast(
    cand: SparkDF, sdf: SparkDF, id_col: str, vec_col: str
) -> SparkDF:
    """Score candidate pairs against a BROADCAST id→vector matrix
    instead of two wide joins (r12; guide §8 "move heavy bytes once"):
    the join form ships every candidate pair's TWO 64-double vectors
    through two exchanges (1.9M pairs ≈ 2 GB of vector payload on the
    near-dup corpus) so each pair can be scored; with a footer-proven
    small corpus the vectors fit in one broadcast matrix and only the
    (id1, id2) longs flow. The kernel gathers V[i1], V[i2] and runs
    the IDENTICAL einsum/norm expression as ``pair_cosine_col`` on the
    same 8192-row slices — per-pair cosine depends only on that pair's
    two float64 rows, so values are bit-identical (differential test).
    Only non-NULL vectors are broadcast: a pair with a NULL vector on
    either side finds no id match and is dropped here, exactly as its
    NULL cosine fails every downstream threshold filter."""
    import pyarrow as pa

    tbl = (
        sdf.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .toArrow()
    )
    ids_np = tbl.column(0).to_numpy(zero_copy_only=False)
    V = _vec_matrix(tbl.column(1).combine_chunks()) if tbl.num_rows else np.empty((0, 0))
    order = np.argsort(ids_np, kind="stable")
    sids, V = ids_np[order], V[order]
    bc = sdf.sparkSession.sparkContext.broadcast((sids, V))
    id_t = next(f for f in sdf.schema.fields if f.name == id_col)
    out_schema = (
        f"id1 {id_t.dataType.simpleString()}, "
        f"id2 {id_t.dataType.simpleString()}, cosine double"
    )

    def gen(batches):
        sids, V = bc.value
        n_ids = len(sids)
        for b in batches:
            i1 = b.column(0).to_numpy(zero_copy_only=False)
            i2 = b.column(1).to_numpy(zero_copy_only=False)
            p1 = np.searchsorted(sids, i1).clip(max=max(n_ids - 1, 0))
            p2 = np.searchsorted(sids, i2).clip(max=max(n_ids - 1, 0))
            ok = (n_ids > 0) & (sids[p1] == i1) & (sids[p2] == i2)
            idx = np.flatnonzero(ok)
            if len(idx) == 0:
                continue
            cos = np.empty(len(idx), dtype=np.float64)
            step = 8192
            for lo in range(0, len(idx), step):
                sl = idx[lo : lo + step]
                A = V[p1[sl]]
                B = V[p2[sl]]
                with np.errstate(divide="ignore", invalid="ignore"):
                    d = np.einsum("ij,ij->i", A, B)
                    c = d / (
                        np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
                    )
                cos[lo : lo + len(sl)] = c
            yield pa.RecordBatch.from_arrays(
                [pa.array(i1[idx]), pa.array(i2[idx]), pa.array(cos)],
                names=["id1", "id2", "cosine"],
            )

    return cand.select("id1", "id2").mapInArrow(gen, out_schema)


# row bound of a footer-proven corpus whose vectors the near-dup verify
# broadcasts (_pair_cosine_broadcast) instead of joining twice
_BCAST_VERIFY_ROWS = 65536


def embedding_neardup_pairs(
    frame: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    bands: int = 24,
    rows: int = 3,
    seed: int = 7,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded LSH blocking +
    exact cosine verification (the embedding analog of
    minhash_dedup_pairs). Output is exact-verified: LSH tunes recall
    only; every emitted pair really has cosine ≥ threshold.

    Scale shape: the bucket aggregation shuffles only (id, band,
    bucket) triples — never the vectors; candidate pairs are expanded
    in-bucket (one shuffle, no self-join — see ``dedup.bucket_pairs``)
    and deduped BEFORE the two vector-fetch joins, so each distinct
    pair computes cosine once; oversized buckets are capped by the
    same aggregation's size filter."""
    from pandas_spark.operators.dedup import bucket_pairs

    planes = _hyperplanes(dim, bands * rows, seed)
    sdf = frame.spark.select(F.col(id_col), F.col(vec_col).alias("__v__"))
    # sign-LSH at a LOW threshold has dense buckets (2^rows buckets per
    # band — the near-dup corpus expands to ~1.9M candidate pairs from
    # 2k vectors), so integral-id corpora expand pairs with the numpy
    # kernel instead of the interpreted HOF (dedup._expand_pairs_arrow)
    id_integral = next(
        f for f in sdf.schema.fields if f.name == id_col
    ).dataType.simpleString() in ("bigint", "int", "smallint")
    banded = _banded(sdf, id_col, "__v__", planes, bands, rows)
    cand = bucket_pairs(
        banded, id_col, bucket_cap, engine="arrow" if id_integral else "hof"
    )
    # verify strategy: a footer-PROVEN small corpus broadcasts its
    # vectors once and only (id1, id2) longs flow into the scorer;
    # anything unproven or large keeps the scale path (two vector
    # fetch joins — at 100 TB the broadcast obviously cannot exist)
    rows_max = getattr(frame, "_rows_max", None)
    if (
        id_integral
        and rows_max
        and 0 < rows_max <= _BCAST_VERIFY_ROWS
    ):
        scored = _pair_cosine_broadcast(cand, sdf, id_col, "__v__")
    else:
        v1 = sdf.select(F.col(id_col).alias("id1"), F.col("__v__").alias("__v1__"))
        v2 = sdf.select(F.col(id_col).alias("id2"), F.col("__v__").alias("__v2__"))
        scored = (
            cand.join(v1, "id1")
            .join(v2, "id2")
            .withColumn(
                "cosine", pair_cosine_col(F.col("__v1__"), F.col("__v2__"))
            )
        )
    out = scored.filter(F.col("cosine") >= threshold).select(
        "id1", "id2", "cosine"
    )
    return DataFrame(out)


def semantic_dedup_pairs(
    frame: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k_cells: int = 64,
    nprobe: int = 1,
    sample_n: int = 100_000,
    iters: int = 10,
    seed: int = 42,
    cell_cap: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540 — public method): cluster embeddings with spherical
    k-means, compare cosine only WITHIN a cluster, emit exact-verified
    pairs with cosine ≥ ``threshold``.

    Scale shape: k-means trains on a bounded deterministic driver
    sample (≤ sample_n·dim doubles at any corpus size); cell assignment
    is one Arrow matmul per batch, map-only; candidate pairs expand
    in-cell after ONE shuffle of narrow (cell, id) rows
    (``dedup.bucket_pairs`` with ``cell_cap`` bounding the quadratic
    term); vectors are fetched only for candidate pairs and scored with
    the vectorized pairwise-cosine kernel. ``nprobe > 1`` assigns each
    vector to its n nearest cells, trading extra candidate volume for
    recall on cluster-boundary pairs.
    """
    from pandas_spark.operators.dedup import bucket_pairs

    c = frame.spark.select(F.col(id_col), F.col(vec_col).alias("__v__"))
    sample = _bounded_hash_sample(c, id_col, "__v__", sample_n)
    C = _spherical_kmeans(np.asarray(sample), k_cells, iters, seed)
    banded = c.select(
        F.col(id_col),
        F.lit(0).alias("band"),
        F.explode(_cells_expr(C, nprobe, F.col("__v__"))).alias("bucket"),
    )
    cand = bucket_pairs(banded, id_col, cell_cap)
    v1 = c.select(F.col(id_col).alias("id1"), F.col("__v__").alias("__v1__"))
    v2 = c.select(F.col(id_col).alias("id2"), F.col("__v__").alias("__v2__"))
    out = (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("cosine", pair_cosine_col(F.col("__v1__"), F.col("__v2__")))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )
    return DataFrame(out)


def semantic_dedup(
    frame: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    **kwargs,
) -> DataFrame:
    """Drop semantic near-duplicates: every row with a verified
    in-cluster partner of smaller id is removed (keep-lowest-id, the
    same greedy rule the MinHash dedup path uses). The anti-join ships
    only ids. See ``semantic_dedup_pairs`` for the candidate plan."""
    pairs = semantic_dedup_pairs(
        frame, id_col=id_col, vec_col=vec_col, threshold=threshold, **kwargs
    )
    drops = pairs.spark.select(F.col("id2").alias(id_col)).distinct()
    return DataFrame(frame.spark.join(drops, id_col, "left_anti"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search" (TPAMI). The memory-compression axis of
# ANN: a dim-float vector becomes m small codes, so a 100 TB embedding
# store compresses ~dim·4/m bytes-per-vector and the index fits in
# executor memory where raw vectors cannot.
# ---------------------------------------------------------------------------

def _lloyd_kmeans(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Plain L2 Lloyd k-means with kmeans++ seeding (driver-side, runs
    on the bounded sample only — same contract as _spherical_kmeans)."""
    rng = np.random.default_rng(seed)
    X = np.asarray(X, dtype=np.float64)
    n, d = X.shape
    k = min(k, n)
    # kmeans++ seeding with an INCREMENTAL min-distance: recomputing
    # every centroid's distances per step is O(k²·n·d) — a measured
    # pq_train hot spot at the 100k-sample decade
    C = [X[rng.integers(n)]]
    d2min = ((X - C[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2min.sum()
        if tot <= 0:
            c = X[rng.integers(n)]
        else:
            c = X[np.searchsorted(np.cumsum(d2min / tot), rng.random())]
        C.append(c)
        np.minimum(d2min, ((X - c) ** 2).sum(axis=1), out=d2min)
    C = np.stack(C)
    xn = (X ** 2).sum(axis=1)
    for _ in range(iters):
        # ||x-c||² = ||x||² - 2x·c + ||c||² as one matmul — n·k·d flops
        # without materializing the (n, k, d) difference tensor (the
        # naive form dominated pq_train at the 100k-sample decade)
        d2 = xn[:, None] - 2.0 * (X @ C.T) + (C ** 2).sum(axis=1)[None, :]
        assign = np.argmin(d2, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Train PQ codebooks: split the vector into ``m`` equal subvectors
    and run L2 k-means(``ksub``) independently per subspace on a
    BOUNDED deterministic sample (same O(sample_n) driver receipt as
    IVF training). Returns codebooks of shape (m, ksub, dim/m)."""
    c = corpus.spark.select(F.col(id_col), F.col(vec_col).alias("__cv__"))
    sample = np.asarray(
        _bounded_hash_sample(c, id_col, "__cv__", sample_n), dtype=np.float64
    )
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [
            _lloyd_kmeans(sample[:, j * dsub : (j + 1) * dsub], ksub, iters, seed + j)
            for j in range(m)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Corpus vectors → length-m code arrays (keeps all other columns,
    drops the raw vector — the point is that downstream search carries
    m ints, not dim floats). Encodes with the zero-copy ``mapInArrow``
    kernel ``_pq_encode_arrow``."""
    return DataFrame(_pq_encode_arrow(corpus.spark, codebooks, vec_col, code_col))


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The standard production PQ pipeline (Jégou et al. §V): ADC over
    the compressed codes builds a per-query ``shortlist``, then the raw
    vectors of ONLY those shortlist·q rows are fetched (one id-keyed
    join) and reranked exactly by cosine. Memory story at 100 TB: the
    scan that scores every corpus row touches m bytes per vector, not
    dim·4; the full-precision vectors are read for a per-query handful.
    Recall is tuned by ``shortlist`` (measured 0.94 at shortlist=50 on
    the 500-vector suite corpus, 1.0 at 80 — see the suite entry's
    assertion)."""
    encoded = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    short = pq_topk(
        encoded, queries, codebooks, k=shortlist,
        id_col=id_col, query_id_col=query_id_col, vec_col=vec_col,
    ).spark.select(query_id_col, id_col)
    vecs = corpus.spark.select(F.col(id_col), F.col(vec_col).alias("__cv__"))
    qv = queries.spark.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv__")
    )
    scored = (
        short.join(vecs, id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            (
                dot_expr(F.col("__cv__"), F.col("__qv__"))
                / (norm_expr(F.col("__cv__")) * norm_expr(F.col("__qv__")))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    out = (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .select(query_id_col, id_col, "cosine", F.col("__rn__").alias("rank"))
    )
    return DataFrame(out)


def _pq_encode_arrow(
    sdf: SparkDF, codebooks: np.ndarray, vec_col: str, code_col: str
) -> SparkDF:
    """Zero-copy PQ encoding: mapInArrow reads the vector column
    straight from the Arrow flat buffer (_vec_matrix — no per-cell
    Python lists, which dominated the pandas_udf form) and computes per
    8k slice one (n, ksub) distance matrix per subspace; ties break to
    the smaller index (np.argmin)."""
    import pyarrow as pa

    m, ksub, dsub = codebooks.shape
    C = codebooks.astype(np.float64)
    fields = [f for f in sdf.schema.fields if f.name != vec_col]
    out_schema = ", ".join(
        f"{qi(f.name)} {f.dataType.simpleString()}" for f in fields
    ) + f", {qi(code_col)} array<int>"

    def gen(batches):
        for b in batches:
            va = b.column(b.schema.get_field_index(vec_col))
            n = len(va)
            cs = np.empty((n, m), dtype=np.int32)
            step = 8192
            for lo in range(0, n, step):
                M = _vec_matrix(va.slice(lo, min(step, n - lo)))
                for j in range(m):
                    S = M[:, j * dsub : (j + 1) * dsub]
                    d2 = ((S[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=-1)
                    cs[lo : lo + len(M), j] = np.argmin(d2, axis=1)
            keep = [b.column(b.schema.get_field_index(f.name)) for f in fields]
            codes = pa.FixedSizeListArray.from_arrays(
                pa.array(cs.reshape(-1), type=pa.int32()), m
            ).cast(pa.list_(pa.int32()))
            yield pa.RecordBatch.from_arrays(
                keep + [codes], names=[f.name for f in fields] + [code_col]
            )

    return sdf.mapInArrow(gen, out_schema)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k_cells: int = 8,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 50,
    sample_n: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ — the production composition (FAISS's IVFx,PQy family;
    Jégou et al. 2011 §VI): IVF cells bound WHICH corpus rows a query
    touches (nprobe/k_cells of the corpus), PQ codes bound what each
    touched row COSTS (m byte-ish lookups, no dim-float vector in the
    scan), and a final exact rerank over the per-query ``shortlist``
    restores recall. At 100 TB this is the only memory shape that
    works: the searched index is (cell, id, m codes) — neither the
    candidate scan nor the shuffle ever carries raw vectors; the full
    vectors are fetched for shortlist·q rows only.

    Train: spherical k-means cells + per-subspace PQ codebooks, both on
    the same bounded deterministic sample. Index: one map-only pass
    assigns cell and codes. Search: probed-cell equi-join → ADC
    lookup-table scores → per-(query, cell) partial top-shortlist →
    global shortlist → exact cosine rerank. All driver receipts are
    O(sample_n); everything else is narrow-row shuffles.
    """
    c = corpus.spark.select(F.col(id_col), F.col(vec_col).alias("__cv__"))
    sample = np.asarray(
        _bounded_hash_sample(c, id_col, "__cv__", sample_n), dtype=np.float64
    )
    cells_C = _spherical_kmeans(sample, k_cells, iters, seed)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"ivfpq_topk: dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = np.stack(
        [
            _lloyd_kmeans(sample[:, j * dsub : (j + 1) * dsub], ksub, iters, seed + j)
            for j in range(m)
        ]
    )

    # index: (id, cell, codes) — the raw vector is DROPPED after this
    # map-only pass
    indexed = _pq_encode_arrow(
        c.withColumn(
            "__cell__", F.element_at(_cells_expr(cells_C, 1, F.col("__cv__")), 1)
        ),
        codebooks,
        "__cv__",
        "__code__",
    )

    mq, ksubq, _ = codebooks.shape

    def _lut(cb, sub):
        def body(cent):
            return F.aggregate(
                F.zip_with(
                    sub,
                    cent,
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        return F.transform(cb, body)

    luts = [
        _lut(
            F.lit([[float(x) for x in row] for row in codebooks[j]]),
            F.slice(F.col("__qv__"), j * dsub + 1, dsub),
        )
        for j in range(m)
    ]
    q = queries.spark.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv__")
    ).select(
        query_id_col,
        F.array(*luts).alias("__lut__"),
        F.explode(_cells_expr(cells_C, nprobe, F.col("__qv__"))).alias("__cell__"),
    )
    scored = indexed.join(F.broadcast(q), "__cell__").select(
        query_id_col,
        "__cell__",
        F.col(id_col),
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.element_at(F.col("__lut__"), j + 1),
                F.element_at(F.col("__code__"), j + 1) + 1,
            ),
        ).alias("__adc__"),
    )
    w_cell = W.partitionBy(query_id_col, "__cell__").orderBy(
        F.col("__adc__").asc(), F.col(id_col).asc()
    )
    survivors = (
        scored.withColumn("__rn__", F.row_number().over(w_cell))
        .filter(F.col("__rn__") <= shortlist)
        .drop("__rn__", "__cell__")
    )
    w_q = W.partitionBy(query_id_col).orderBy(
        F.col("__adc__").asc(), F.col(id_col).asc()
    )
    short = (
        survivors.withColumn("__rn__", F.row_number().over(w_q))
        .filter(F.col("__rn__") <= shortlist)
        .select(query_id_col, id_col)
    )
    qv = queries.spark.select(F.col(query_id_col), F.col(vec_col).alias("__qv__"))
    rerank = (
        short.join(c, id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            (
                dot_expr(F.col("__cv__"), F.col("__qv__"))
                / (norm_expr(F.col("__cv__")) * norm_expr(F.col("__qv__")))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    out = (
        rerank.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .select(query_id_col, id_col, "cosine", F.col("__rn__").alias("rank"))
    )
    return DataFrame(out)


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    Queries are collected to the driver (bounded — the small side by
    contract, same receipt as a broadcast), lookup tables are computed
    in numpy, and each corpus partition scores its own codes with
    vectorized LUT gathers inside ``mapInArrow`` — emitting only its
    PARTIAL top-k per query, exactly the ``cosine_topk`` shuffle shape
    (partitions × q × k narrow rows, the corpus codes never shuffle).

    approx_dist is the standard PQ estimate of squared L2 distance. The
    searched index carries only (id, m codes); compose with IVF cells
    for the full IVF-PQ index (``ivfpq_topk``)."""
    import pyarrow as pa

    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = encoded.spark.sparkSession
    m, ksub, dsub = codebooks.shape
    C = codebooks.astype(np.float64)
    qrows = queries.spark.select(query_id_col, vec_col).collect()
    part_schema = StructType(
        [
            StructField(query_id_col, queries.spark.schema[query_id_col].dataType),
            StructField(id_col, encoded.spark.schema[id_col].dataType),
            StructField("approx_dist", DoubleType()),
        ]
    )
    c = encoded.spark.select(id_col, code_col)
    if not qrows:
        mapped = spark.createDataFrame([], part_schema)
    else:
        qids = [r[0] for r in qrows]
        Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        nq = len(qids)
        # LUT[q, j, c] = ||Q[q]_sub_j - C[j][c]||² accumulated dim-by-dim
        # in order — numpy's pairwise .sum() differs from sequential
        # adds in the last ulp at dsub >= 8, and ivfpq_topk's JVM LUT
        # fold adds sequentially
        LUT = np.zeros((nq, m, ksub))
        for j in range(m):
            S = Q[:, j * dsub : (j + 1) * dsub]
            for t in range(dsub):
                diff = S[:, t][:, None] - C[j][:, t][None, :]
                LUT[:, j, :] += diff * diff
        from pyspark.sql.pandas.types import to_arrow_type

        qid_t = to_arrow_type(part_schema[0].dataType)
        cid_t = to_arrow_type(part_schema[1].dataType)

        def gen(batches):
            for b in batches:
                ids = b.column(0)
                codes_col = b.column(1)
                n = len(ids)
                if n == 0:
                    continue
                # (n, m) code matrix, zero-copy from the flat buffer
                codes = _vec_matrix(codes_col).astype(np.int64, copy=False)
                ids_np = ids.to_numpy(zero_copy_only=False)
                kk = min(k, n)
                best_q, best_i, best_d = [], [], []
                for qi in range(nq):
                    # sequential accumulation over subspaces — numpy's
                    # pairwise .sum() kicks in at m>=8 and differs from
                    # ivfpq_topk's in-order ADC fold in the last ulp
                    scores = np.zeros(n)
                    for j in range(m):
                        scores += LUT[qi][j][codes[:, j]]
                    # (dist, id) lexicographic partial top-k — the same
                    # tie rule the global rerank window applies, so a
                    # tied survivor is never pruned differently here
                    part = np.lexsort((ids_np, scores))[:kk]
                    best_q.extend([qids[qi]] * kk)
                    best_i.append(part)
                    best_d.append(scores[part])
                sel = np.concatenate(best_i)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(best_q, type=qid_t),
                        pa.array(ids_np[sel], type=cid_t),
                        pa.array(np.concatenate(best_d), type=pa.float64()),
                    ],
                    names=[query_id_col, id_col, "approx_dist"],
                )

        mapped = c.mapInArrow(gen, part_schema)
    w = W.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    out = (
        mapped.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .select(query_id_col, id_col, "approx_dist", F.col("__rn__").alias("rank"))
    )
    return DataFrame(out)

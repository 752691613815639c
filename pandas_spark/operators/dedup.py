"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The training-data-pipeline workhorses (not in the pandas reference).
Design for 100 TB:

* **exact** — content-hash groupBy; one shuffle on a 64/128-bit key.
* **MinHash+LSH** — per-doc signature is map-only (k=band*rows hash
  mins over shingles, all Catalyst HOFs); banding explodes to
  (band_id, band_hash) keys; the only shuffle is the bucket
  self-join, whose size is controlled by band width. Candidates are
  then *exactly* verified with Jaccard on shingle sets, so the output
  is deterministic (LSH affects recall only, tuned by bands/rows).
* **SimHash** — 64-bit signature via bit-majority over token hashes,
  expressed with array HOFs (no UDF); Hamming-distance pairs via
  band-rotation buckets.
* **n-gram Jaccard** — exact pairwise within blocking buckets.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame as SparkDF, Window as W
from pandas_spark import fshim as F  # backtick-safe F.col facade
from pandas_spark._exprmemo import memo_column
from pyspark.sql import types as T

from pandas_spark.frame import DataFrame
from pandas_spark.operators.text import normalize_expr, shingles_expr, spread, tokens_expr


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """Keep one row per distinct content (min id wins — deterministic).

    Hash first so the shuffle key is 32 bytes, not the document text.
    """
    t = normalize_expr(F.col(text_col)) if normalized else F.col(text_col)
    sdf = frame.spark.withColumn("__h__", F.md5(t))
    keep = sdf.groupBy("__h__").agg(F.min(id_col).alias(id_col))
    out = sdf.join(keep, [id_col, "__h__"], "inner").drop("__h__")
    return DataFrame(out)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(
    sdf: SparkDF,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 5,
    out_col: str = "minhash",
    shingles_col: str | None = None,
) -> SparkDF:
    """k-permutation MinHash over word shingles — map-only, built-ins.

    Each shingle is string-hashed ONCE (xxhash64, folded to 32 bits);
    the k components are universal-hash permutations of that value —
    signature[i] = min over shingles of (a_i·h32 + b_i) mod 2³².
    The inner loop (k × shingles, the dominant arithmetic of the whole
    pipeline) is 3 primitive ALU ops per element instead of a hash
    call. ANSI-safe by construction: a_i < 2³⁰ and h32 < 2³², so the
    64-bit product a_i·h32 + b_i < 2⁶³ never overflows — no silent
    wraparound is relied on in either ``spark.sql.ansi.enabled`` state.

    32-bit min-wise values collide between distinct shingles with
    birthday probability (m²/2³³ for m distinct shingles) — immaterial
    here because LSH only *generates candidates*; exact Jaccard
    verification follows, so collisions cost a little precision in the
    candidate set, never correctness.
    """
    if shingles_col is not None:
        # caller passes PRE-HASHED shingles (array<long> of xxhash64
        # values, already distinct + spread): fold the same hash to 32
        # bits — bit-identical to hashing the strings here, without
        # re-spreading or re-shingling
        sig = memo_column(
            ("minhash_sig", num_hashes, "pre", shingles_col),
            lambda: _sig_udf(num_hashes)(
                F.transform(
                    F.col(shingles_col),
                    lambda h: h.bitwiseAND(F.lit((1 << 32) - 1)),
                )
            ),
        )
        return sdf.withColumn(out_col, sig)
    sig = memo_column(
        ("minhash_sig", num_hashes, "text", text_col, shingle_n),
        lambda: _sig_udf(num_hashes)(
            F.transform(
                shingles_expr(F.col(text_col), shingle_n),
                lambda s: F.xxhash64(s).bitwiseAND(F.lit((1 << 32) - 1)),
            )
        ),
    )
    from pandas_spark.operators.text import spread

    return spread(sdf).withColumn(out_col, sig)


def _perm_constants(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """The k-permutation multiply-add constants. ONE draw order for
    every consumer (``_sig_udf`` and ``_shingle_sig_udf``) — signatures
    stay bit-identical across engine versions and kernel choices."""
    import random

    rng = random.Random(0x5EED)  # deterministic permutation constants
    _ab = [(rng.randrange(1, 1 << 30) | 1, rng.randrange(0, 1 << 32)) for _ in range(num_hashes)]
    A = np.array([a for a, _ in _ab], dtype=np.uint64)
    B = np.array([b for _, b in _ab], dtype=np.uint64)
    return A, B


def _sig_udf(num_hashes: int):
    """The k-permutation MinHash pandas_udf for ``num_hashes`` — built
    (and its body cloudpickled to the JVM) once per session per k.

    Shingle hashing stays JVM-side (xxhash64 — one hash per shingle);
    only the k-permutation min-reduction crosses to Arrow: per batch
    it's one uint64 outer multiply-add + column-min in numpy SIMD,
    versus k interpreted HOF ops per shingle in the Catalyst fold
    (the fold dominated the whole dedup pipeline's CPU — same 10×
    story as similarity._banded). uint64 wraparound is mod-2⁶⁴
    universal hashing, then folded to 32 bits — deterministic and
    independent of the session's ANSI state (numpy, not Spark SQL,
    does the arithmetic)."""
    from pyspark.sql.types import ArrayType, LongType

    A, B = _perm_constants(num_hashes)
    EMPTY = [int((1 << 63) - 1)] * num_hashes
    M32 = np.uint64((1 << 32) - 1)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        # Vectorized across the WHOLE batch (r11): flatten every row's
        # hash list into one array, one multiply-add per permutation,
        # then a segmented min (np.minimum.reduceat at the row starts).
        # The old per-row outer product paid numpy dispatch ~6x per
        # document; this pays it ~k times per BATCH. Arithmetic is the
        # identical uint64 mod-2^64 multiply-add folded to 32 bits, so
        # signatures are bit-identical.
        lens = np.array(
            [0 if h is None else len(h) for h in hs], dtype=np.int64
        )
        out = np.empty((len(hs), num_hashes), dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hs if h is not None and len(h)]
            ).astype(np.uint64)
            lens_nz = lens[nz]
            starts = np.concatenate(([0], np.cumsum(lens_nz)[:-1]))
            sig_nz = np.empty((len(lens_nz), num_hashes), dtype=np.uint64)
            for j in range(num_hashes):
                pj = (flat * A[j] + B[j]) & M32
                sig_nz[:, j] = np.minimum.reduceat(pj, starts)
            out[nz] = sig_nz
        if (~nz).any():
            out[~nz] = np.asarray(EMPTY, dtype=np.uint64)
        return pd.Series(list(out.astype(np.int64)))

    return _sig


def _build_xxh64():
    """Vectorized xxHash64(seed=42) over variable-length byte slices of
    one buffer — bit-identical to Spark's ``xxhash64`` on strings
    (differential-tested over the corpus and a unicode/length fuzz in
    tests/test_shingle_kernel.py). Returned as a NESTED function so
    cloudpickle ships it by value (Python workers cannot import
    pandas_spark — the same reason every other kernel here is a
    closure)."""
    U64 = np.uint64
    P1 = U64(0x9E3779B185EBCA87)
    P2 = U64(0xC2B2AE3D27D4EB4F)
    P3 = U64(0x165667B19E3779F9)
    P4 = U64(0x85EBCA77C2B2AE63)
    P5 = U64(0x27D4EB2F165667C5)
    SEED = U64(42)
    # precomputed mod-2^64 lane seeds (python-int arithmetic: no numpy
    # scalar overflow warnings)
    V1_0 = U64((42 + int(P1) + int(P2)) % (1 << 64))
    V2_0 = U64((42 + int(P2)) % (1 << 64))
    V3_0 = SEED
    V4_0 = U64((42 - int(P1)) % (1 << 64))

    def _rot(x, r):
        r = U64(r)
        return (x << r) | (x >> (U64(64) - r))

    def _u64_at(buf, off):
        # gather 8 little-endian bytes per offset → uint64
        b = buf[off[:, None] + np.arange(8)].astype(np.uint64)
        out = b[:, 0]
        for i in range(1, 8):
            out = out | (b[:, i] << U64(8 * i))
        return out

    def _u32_at(buf, off):
        b = buf[off[:, None] + np.arange(4)].astype(np.uint64)
        out = b[:, 0]
        for i in range(1, 4):
            out = out | (b[:, i] << U64(8 * i))
        return out

    def xxh64(buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
        """Hash of ``buf[starts[i] : starts[i]+lengths[i]]`` for all i.
        ``buf`` must be uint8 with ≥32 zero bytes of padding past the
        last slice end (stripe-lane gathers read whole words)."""
        n = len(starts)
        starts = starts.astype(np.int64)
        L = lengths.astype(np.int64)
        h = np.empty(n, dtype=np.uint64)

        big = L >= 32
        if big.any():
            sb = starts[big]
            nstripes = L[big] >> 5
            m_all = int(big.sum())
            v1 = np.full(m_all, V1_0, dtype=np.uint64)
            v2 = np.full(m_all, V2_0, dtype=np.uint64)
            v3 = np.full(m_all, V3_0, dtype=np.uint64)
            v4 = np.full(m_all, V4_0, dtype=np.uint64)
            for s in range(int(nstripes.max())):
                m = nstripes > s
                off = sb[m] + 32 * s
                for v, lane in ((v1, 0), (v2, 8), (v3, 16), (v4, 24)):
                    acc = v[m]
                    acc = acc + _u64_at(buf, off + lane) * P2
                    v[m] = _rot(acc, 31) * P1
            hb = _rot(v1, 1) + _rot(v2, 7) + _rot(v3, 12) + _rot(v4, 18)
            for v in (v1, v2, v3, v4):
                hb = (hb ^ (_rot(v * P2, 31) * P1)) * P1 + P4
            h[big] = hb
        if (~big).any():
            h[~big] = SEED + P5
        h += L.astype(np.uint64)

        # tail from offset (L//32)*32: up to three 8-byte words, one
        # 4-byte word, up to three bytes — masked vector passes
        toff = starts + ((L >> 5) << 5)
        rem = L & 31
        n8 = rem >> 3
        for s in range(3):
            m = n8 > s
            if m.any():
                k1 = _rot(_u64_at(buf, toff[m] + 8 * s) * P2, 31) * P1
                h[m] = _rot(h[m] ^ k1, 27) * P1 + P4
        o4 = toff + (n8 << 3)
        rem4 = rem & 7
        m = rem4 >= 4
        if m.any():
            h[m] = _rot(h[m] ^ (_u32_at(buf, o4[m]) * P1), 23) * P2 + P3
        ob = o4 + ((rem4 >> 2) << 2)
        nb = rem4 & 3
        for s in range(3):
            m = nb > s
            if m.any():
                h[m] = _rot(h[m] ^ (buf[ob[m] + s].astype(np.uint64) * P5), 11) * P1
        h ^= h >> U64(33)
        h *= P2
        h ^= h >> U64(29)
        h *= P3
        h ^= h >> U64(32)
        return h

    return xxh64


def _shingle_sig_udf(num_hashes: int, shingle_n: int):
    """Shingle + hash + distinct + MinHash in ONE Arrow kernel (r12;
    guide §4.2 "do the heavy lifting in native code inside the UDF").

    The JVM chain this replaces — ``array_distinct(transform(
    shingles_expr(text), xxhash64))`` — built every shingle STRING
    through interpreted HOFs (``transform``/``slice``/``array_join``
    are CodegenFallback): measured 0.43 s of the 1.33 s query at sf0.1,
    entirely the per-shingle string allocation (the xxhash64 and
    array_distinct on top were free — OPTIMIZATION_r12.md).
    Here the kernel receives the NORMALIZED text (regex stays JVM-side,
    codegen, measured free) and, because tokens are space-joined,
    every word n-gram is a contiguous byte slice of it: token offsets
    come from one vectorized space scan, shingle hashes from the
    bit-exact vectorized xxHash64 above, per-doc distinct from one
    lexsort, and the k-permutation fold is the identical multiply-add
    + segmented-min of ``_sig_udf``. Signatures and shingle SETS are
    bit-identical to the JVM chain (``__s__`` order becomes sorted —
    every consumer is set-based: array_intersect/union sizes, min
    folds); differential-tested per doc in tests/test_shingle_kernel.py.

    Returns struct<s: array<bigint>, minhash: array<bigint>>.
    Edge semantics replicated exactly: NULL text → s=[42] (Spark's
    xxhash64(NULL)=seed); empty/whitespace text → s=[xxh64('')];
    fewer than ``shingle_n`` tokens → one whole-string shingle."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    A, B = _perm_constants(num_hashes)
    M32 = np.uint64((1 << 32) - 1)
    SHN = int(shingle_n)
    NH = int(num_hashes)
    xxh = _build_xxh64()

    out_type = StructType(
        [
            StructField("s", ArrayType(LongType())),
            StructField("minhash", ArrayType(LongType())),
        ]
    )

    @F.pandas_udf(out_type)
    def _pack(norm: pd.Series) -> pd.DataFrame:
        vals = norm.tolist()
        nrows = len(vals)
        s_out: list = [None] * nrows
        mh_out: list = [None] * nrows

        enc = [v.encode("utf-8") if v is not None else None for v in vals]
        docs = [e for e in enc if e is not None]
        doc_rows = [i for i, e in enumerate(enc) if e is not None]
        if docs:
            dlens = np.array([len(e) for e in docs], dtype=np.int64)
            dstarts = np.concatenate(([0], np.cumsum(dlens)[:-1]))
            dends = dstarts + dlens
            total = int(dlens.sum())
            buf = np.frombuffer(b"".join(docs) + b"\0" * 32, dtype=np.uint8)
            spaces = np.flatnonzero(buf[:total] == 0x20)
            # normalized text is trimmed/single-spaced: every 0x20 is a
            # token separator of the doc whose [start, end) contains it
            sdoc = np.searchsorted(dends, spaces, side="right")
            k = np.bincount(sdoc, minlength=len(docs)) + 1  # tokens/doc
            T = np.sort(np.concatenate((dstarts, spaces + 1)))  # token starts
            K0 = np.concatenate(([0], np.cumsum(k)))
            n_sh = np.where(k >= SHN, k - SHN + 1, 1)
            S0 = np.concatenate(([0], np.cumsum(n_sh)))
            tot_sh = int(S0[-1])
            shdoc = np.repeat(np.arange(len(docs)), n_sh)
            i_in = np.arange(tot_sh) - S0[shdoc]
            big_k = k[shdoc] >= SHN
            g = K0[shdoc] + i_in
            Tpad = np.concatenate((T, [0]))  # g+SHN == total tokens on last shingle
            start = np.where(big_k, Tpad[g], dstarts[shdoc])
            is_last = i_in == (k[shdoc] - SHN)
            end = np.where(
                big_k & ~is_last,
                Tpad[np.minimum(g + SHN, len(T))] - 1,  # byte before next token's space
                dends[shdoc],
            )
            hashes = xxh(buf, start, end - start)
            # per-doc distinct (sorted — consumers are set-based)
            order = np.lexsort((hashes, shdoc))
            hs = hashes[order]
            ds = shdoc[order]
            keep = np.ones(tot_sh, dtype=bool)
            keep[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
            dh = hs[keep]
            dd = ds[keep]
            cnt = np.bincount(dd, minlength=len(docs))  # ≥1 every doc
            st = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            h32 = dh & M32
            sig = np.empty((len(docs), NH), dtype=np.uint64)
            for j in range(NH):
                pj = (h32 * A[j] + B[j]) & M32
                sig[:, j] = np.minimum.reduceat(pj, st)
            sig64 = sig.astype(np.int64)
            dh64 = dh.astype(np.int64)
            for d, row in enumerate(doc_rows):
                s_out[row] = dh64[st[d] : st[d] + cnt[d]]
                mh_out[row] = sig64[d]
        if len(docs) < nrows:
            # NULL text: the JVM chain produced __s__ = [xxhash64(NULL)]
            # = [42] (hash functions return the seed for NULL input)
            null_h32 = np.uint64(42) & M32
            null_sig = ((null_h32 * A + B) & M32).astype(np.int64)
            null_s = np.array([42], dtype=np.int64)
            for row, e in enumerate(enc):
                if e is None:
                    s_out[row] = null_s
                    mh_out[row] = null_sig
        return pd.DataFrame({"s": s_out, "minhash": mh_out})

    return _pack


def lsh_candidate_pairs(
    sdf: SparkDF,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 32,
    rows: int = 2,
    bucket_cap: int | None = 100_000,
) -> SparkDF:
    """Band the signatures and self-join on (band, band-hash) buckets.

    P(candidate | jaccard=j) = 1-(1-j^rows)^bands; with (32,2) a 0.8-
    similar pair is missed with probability < 1e-14. The bucket join is
    the only shuffle; keys are (band_id, 64-bit hash).

    ``bucket_cap`` drops pathological buckets: a bucket of m members
    yields O(m²) pairs, and web-scale corpora have boilerplate
    megaclusters (a viral page duplicated millions of times) that would
    otherwise quadratically blow up one task. A dropped bucket only
    loses recall for docs whose EVERY band is oversubscribed — i.e.
    members of a giant duplicate cluster, which exact dedup (or a
    cluster-representative pass) should collapse first anyway.

    Implementation: ONE shuffle — groupBy (band, bucket) collecting the
    member ids, then in-bucket pair expansion with array HOFs. A naive
    self-join on (band, bucket) evaluates the banding subtree twice and
    adds a broadcast/sort-merge stage; collect_list + transform does
    the same pair enumeration with half the plan. The cap is a size()
    filter on the collected array (members of an over-cap bucket buffer
    ~8B·m in the aggregation state before the filter drops them —
    ObjectHashAggregate falls back to sort-based spill, and at the
    default cap the kept buffers are <1 MB).
    """
    bb = memo_column(
        ("lsh_banded", sig_col, bands, rows),
        lambda: F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # hash the band's signature longs directly —
                        # no per-band string building
                        F.xxhash64(
                            *[F.col(sig_col)[b * rows + j] for j in range(rows)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    )
    banded = sdf.select(F.col(id_col), bb).select(id_col, "bb.band", "bb.bucket")
    return bucket_pairs(banded, id_col, bucket_cap)


def _expand_pairs_arrow(buckets: SparkDF, id_field) -> SparkDF:
    """Vectorized in-bucket pair expansion for INTEGRAL ids (r12;
    guide §4.2): the HOF form below builds one interpreted struct per
    emitted pair (higher-order functions are CodegenFallback), which
    at dense-bucket workloads is the stage's entire cost — the
    embedding-LSH near-dup corpus measured ~6M interpreted struct
    allocations ≈ 5.6 s of its 6.8 s wall. This kernel reads each
    bucket's sorted id array zero-copy from the Arrow list buffer and
    emits the SAME row-major (i<j) ordered pairs via ``triu_indices``
    — identical pair multiset into the downstream distinct."""
    import pyarrow as pa

    out_schema = f"id1 {id_field.dataType.simpleString()}, id2 {id_field.dataType.simpleString()}"

    def gen(batches):
        for b in batches:
            la = b.column(b.schema.get_field_index("__ids__"))
            if isinstance(la, pa.ChunkedArray):  # pragma: no cover
                la = la.combine_chunks()
            offs = la.offsets.to_numpy()
            vals = la.values.to_numpy(zero_copy_only=False)
            o1, o2, pending = [], [], 0
            for k in range(len(offs) - 1):
                a = vals[offs[k] : offs[k + 1]]
                n = len(a)
                if n < 2:
                    continue
                i, j = np.triu_indices(n, 1)
                o1.append(a[i])
                o2.append(a[j])
                pending += len(i)
                if pending >= (1 << 20):  # bound kernel memory
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(np.concatenate(o1)),
                            pa.array(np.concatenate(o2)),
                        ],
                        names=["id1", "id2"],
                    )
                    o1, o2, pending = [], [], 0
            if pending:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(o1)), pa.array(np.concatenate(o2))],
                    names=["id1", "id2"],
                )

    return buckets.select("__ids__").mapInArrow(gen, out_schema)


def bucket_pairs(
    banded: SparkDF, id_col: str, bucket_cap: int | None, engine: str = "hof"
) -> SparkDF:
    """(id, band, bucket) triples → distinct ordered candidate pairs.

    ONE shuffle: groupBy (band, bucket) collecting member ids, then
    in-bucket pair expansion with array HOFs, then pair-level distinct
    (a pair collides in up to ``bands`` buckets). The ``bucket_cap`` is
    a size() filter on the collected array. Shared by the MinHash and
    embedding-LSH paths. ``engine='arrow'`` expands with the numpy
    kernel above (integral ids only — callers with dense buckets);
    the default HOF form stays for the sparse-bucket MinHash path,
    whose few small buckets don't repay an Arrow round trip."""
    buckets = banded.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list(id_col)).alias("__ids__")
    )
    cond = F.size("__ids__") >= 2
    if bucket_cap is not None:
        cond = cond & (F.size("__ids__") <= bucket_cap)
    if engine == "arrow":
        id_field = next(
            f for f in banded.schema.fields if f.name == id_col
        )
        if id_field.dataType.simpleString() in ("bigint", "int", "smallint"):
            return _expand_pairs_arrow(buckets.filter(cond), id_field).distinct()
    # enumerate ordered pairs inside each bucket: for the i-th id, pair
    # it with every later id (ids sorted, so id1 < id2 holds and the
    # output is deterministic)
    pair_structs = memo_column(
        ("bucket_pair_structs",),
        lambda: F.flatten(
            F.transform(
                "__ids__",
                lambda x, i: F.transform(
                    F.slice(F.col("__ids__"), i + F.lit(2), F.size("__ids__")),
                    lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                ),
            )
        ),
    )
    return (
        buckets.filter(cond)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id1", "p.id2")
        .distinct()
    )


def jaccard_verify(
    pairs: SparkDF,
    docs: SparkDF,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.8,
    shingle_sets: SparkDF | None = None,
) -> SparkDF:
    """Exact Jaccard on shingle *sets* for candidate pairs.

    ``shingle_sets`` (id, __s__) lets the caller reuse an
    already-materialized shingle table instead of re-scanning the
    corpus text; otherwise it is computed and cached here — both pair
    sides join against it."""
    if shingle_sets is not None:
        sh = shingle_sets
    else:
        # hashed shingle sets (see _collapsed_rep_pairs: xxhash64 at
        # birth — Jaccard over 64-bit hashed sets, collision-free in
        # practice and oracle-verified equal)
        sh = _cache_once(
            spread(docs).select(
                F.col(id_col),
                memo_column(
                    ("hashed_shingles", text_col, shingle_n),
                    lambda: F.array_distinct(
                        F.transform(
                            shingles_expr(F.col(text_col), shingle_n),
                            lambda sh: F.xxhash64(sh),
                        )
                    ),
                ).alias("__s__"),
            )
        )
    j = (
        pairs.join(sh.withColumnsRenamed({id_col: "id1", "__s__": "__s1__"}), "id1")
        .join(sh.withColumnsRenamed({id_col: "id2", "__s__": "__s2__"}), "id2")
        .withColumn(
            "jaccard",
            memo_column(
                ("jaccard_expr",),
                lambda: F.size(F.array_intersect("__s1__", "__s2__"))
                / F.size(F.array_union("__s1__", "__s2__")),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return j


# corpus rows per partition of the fused collapse+spread exchange in
# _collapsed_rep_pairs (swept at local[32]; see the comment there)
_PY_PART_ROWS = 320


def _collapsed_rep_pairs(
    frame: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    rows: int,
    shingle_n: int,
):
    """Shared exact-collapse + MinHash/LSH/verify core: returns
    (groups, rep_pairs) where ``groups`` is one row per UNIQUE text
    (__k__, __rep__ = min member id, __members__, text) and
    ``rep_pairs`` the verified near-dup pairs AMONG REPS ONLY —
    O(unique texts), never expanded by clone multiplicity. Pair-listing
    callers expand to document pairs (quadratic in clones by
    definition); clustering callers must stay at the rep level."""
    sdf = frame.spark
    # ONE cached table carries the whole unique-text base (r11; was two
    # sequential cache fills — md5-collapse, then signatures): the
    # exact-collapse aggregate, the parallelism spread, the shingle
    # build and the signature UDF compose into a single plan whose one
    # materialization serves every downstream branch. The text and the
    # md5 key are dropped AFTER the shingle projection — the cached
    # rows are (rep, members, signature, hashed shingle set), about
    # half the bytes of the old two-table layout.
    #
    # Shingles are HASHED at birth: each shingle string becomes its
    # xxhash64 long immediately, so the distinct-set build, the cached
    # rows, the signature fold and the Jaccard verification all run on
    # array<long> instead of array<string> (~4x narrower, long equality
    # instead of string equality). Signatures are bit-identical (they
    # always hashed with this same xxhash64, folded to 32 bits; min
    # over distinct == min over the raw multiset). Jaccard over hashed
    # sets equals Jaccard over string sets unless two DISTINCT shingles
    # of a compared pair collide in 64 bits (P ≈ m²/2⁶⁴ per pair,
    # ~1e-15 at m=10³ — oracle-verified equal on every SF; the 32-bit
    # fold inside the SIGNATURE was always allowed to collide,
    # affecting recall only).
    # Fuse the parallelism spread INTO the collapse exchange (guide
    # §2.4 "two operations keyed the same way share one exchange"): a
    # single-file scan used to pay Exchange(md5, shuffle_parts) for the
    # groupBy and then a RoundRobin(cores) spread of the collapsed rows
    # so the signature UDF ran wide. Hash-spreading the RAW rows on the
    # collapse key up front satisfies the groupBy's required
    # distribution, so ONE exchange does both jobs and the aggregate
    # output is already `cores` wide. Gated to the few-files case the
    # spread targeted; at production scale (many splits) both the old
    # spread and this pre-partition are no-ops. Trade-off, measured:
    # raw rows cross instead of partially-collapsed ones — on a
    # clone-light corpus that HALVES total shuffle bytes (the spread
    # re-shipped every unique text anyway); a clone-heavy small corpus
    # ships the clones once, still bounded by the (tiny) gated input.
    # Partition count for the fused exchange is DATA-sized (r12; guide
    # §2.4 "partition counts from data, not cores"): defaultParallelism
    # fanned a 5 000-doc corpus into 32 Arrow-stage partitions of ~150
    # docs — 32 Python-worker round trips per run for ~ms of kernel
    # work each, and every downstream stage over the cached base
    # (banding, bucket agg, verify joins, member expansion) inherited
    # the 32-way width. Swept at local[32] over {1,2,4,8,16,32}
    # partitions, idle AND under a 24-thread contention load (the
    # driver-box regime that blew r11 up to 6.6 s): 32-wide is best
    # idle (1.50 s) but degrades worst contended (3.02 s); ≤4 loses
    # everywhere (5.5 s at 1); 16 is the robustness optimum (1.78 idle
    # / 2.04 contended / 2.14 at local[8] — all within the ±20%
    # cross-core band). 320 rows/partition lands this corpus at 16 and
    # scales with the data, not the master string. Rows come from the
    # parquet footer via the frame's proven row bound; unknown row
    # counts keep the core-count spread (production-scale many-file
    # inputs never enter this gate at all).
    pre = sdf
    try:
        _target = sdf.sparkSession.sparkContext.defaultParallelism
        _nf = len(sdf.inputFiles())
        if 0 < _nf < _target:
            from pandas_spark._sizing import rows_sized_parts

            parts = rows_sized_parts(
                getattr(frame, "_rows_max", None), _PY_PART_ROWS, _target
            )
            pre = sdf.repartition(parts or _target, F.md5(F.col(text_col)))
    except Exception:
        pass
    collapsed = pre.groupBy(
        memo_column(("collapse_key", text_col), lambda: F.md5(F.col(text_col)).alias("__k__"))
    ).agg(
        F.min(id_col).alias("__rep__"),
        F.sort_array(F.collect_list(F.col(id_col))).alias("__members__"),
        F.first(F.col(text_col)).alias(text_col),
    )
    # Shingle build + hash + distinct + signature in ONE Arrow kernel
    # (r12; guide §4.2): the JVM form — array_distinct(transform(
    # shingles_expr, xxhash64)) then the signature UDF — paid ~0.43 s
    # of interpreted per-shingle STRING construction per run
    # (OPTIMIZATION_r12.md; transform/slice/array_join are
    # CodegenFallback). The kernel consumes the codegen'd NORMALIZED
    # text and emits bit-identical shingle sets and signatures (see
    # _shingle_sig_udf; differential-tested against the JVM chain).
    packed = collapsed.withColumn(
        "__p__",
        memo_column(
            ("shingle_sig_pack", text_col, num_hashes, shingle_n),
            lambda: _shingle_sig_udf(num_hashes, shingle_n)(
                normalize_expr(F.col(text_col))
            ),
        ),
    )
    groups = _cache_once(
        packed.select(
            "__rep__",
            "__members__",
            F.col("__p__")["minhash"].alias("minhash"),
            F.col("__p__")["s"].alias("__s__"),
        )
    )
    base = groups.select(F.col("__rep__").alias(id_col), "minhash", "__s__")
    cands = lsh_candidate_pairs(base, id_col, "minhash", bands, rows)
    rep_pairs = jaccard_verify(
        cands, base, id_col, text_col, shingle_n, threshold,
        shingle_sets=base.select(id_col, "__s__"),
    )
    return groups, rep_pairs


def minhash_dedup_pairs(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    rows: int = 2,
    shingle_n: int = 5,
) -> DataFrame:
    """End-to-end near-duplicate pairs: exact-duplicate collapse →
    MinHash → LSH buckets → exact Jaccard verification at
    ``threshold`` → expand back to document pairs. Deterministic.

    **Exact-collapse first** (the structure every production dedup
    pipeline uses): documents are grouped by text hash so the whole
    MinHash/LSH/verify machinery runs on UNIQUE texts only. Without
    it, a corpus where the same document appears m times pays
    O(m²·bands) redundant candidate pairs — the same clone pair
    rediscovered in every band (measured: >30× blowup at 100 clones).
    With it, clone pairs are reconstructed map-side:

    * within-group: identical texts → jaccard exactly 1.0; pairs come
      from an array HOF over the member list, no join at all.
    * cross-group: jaccard(memberᵢ, memberⱼ) = jaccard(rep₁, rep₂)
      (identical texts ⇒ identical shingle sets), so the verified
      rep-pair table — tiny — broadcasts into the member lists and
      explodes to output pairs map-side.

    The unique-text base (id, shingle set, signature) is still scanned
    once and cached, feeding the bucket aggregation and both sides of
    the verification.
    """
    groups, rep_pairs = _collapsed_rep_pairs(
        frame, text_col, id_col, threshold, num_hashes, bands, rows, shingle_n
    )

    m = F.col("__members__")
    n = F.size(m)
    # within-group pairs (i < j over the sorted member list), jaccard 1.0
    pair_structs = memo_column(
        ("member_pair_structs",),
        lambda: F.flatten(
            F.transform(
                m,
                lambda x, i: F.transform(
                    F.slice(m, i + 2, n), lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        ),
    )
    within = (
        groups.filter(n > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a").alias("id1"),
            F.col("p.b").alias("id2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # cross-group pairs: broadcast the (tiny) verified rep pairs into
    # the member lists and explode both sides map-side
    g1 = groups.select(F.col("__rep__").alias("id1"), m.alias("__m1__"))
    g2 = groups.select(F.col("__rep__").alias("id2"), m.alias("__m2__"))
    cross = (
        F.broadcast(rep_pairs).join(g1, "id1").join(g2, "id2")
        .select(F.explode("__m1__").alias("a"), "__m2__", "jaccard")
        .select("a", F.explode("__m2__").alias("b"), "jaccard")
        .select(
            F.least("a", "b").alias("id1"),
            F.greatest("a", "b").alias("id2"),
            "jaccard",
        )
    )
    return DataFrame(within.unionByName(cross))


def ngram_jaccard_pairs(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs (within optional
    blocking key to bound the quadratic term at scale)."""
    sdf = frame.spark
    sh = spread(sdf).select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col),
        F.array_distinct(shingles_expr(F.col(text_col), shingle_n)).alias("__s__"),
    )
    l, r = sh.alias("l"), sh.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    if block_col:
        cond = (F.col(f"l.{block_col}") == F.col(f"r.{block_col}")) & cond
    out = (
        l.join(r, cond)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("l.__s__", "r.__s__"))
            / F.size(F.array_union("l.__s__", "r.__s__")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col(f"l.{id_col}").alias("id1"),
            F.col(f"r.{id_col}").alias("id2"),
            "jaccard",
        )
    )
    return DataFrame(out)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_expr(text: Column, bits: int = 64) -> Column:
    """SimHash: per-token 64-bit hash; signature bit b = majority of
    token-hash bit b. Pure array HOFs (aggregate over tokens) — no UDF.
    """
    toks = F.array_distinct(tokens_expr(text))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    # ONE aggregate with a bits-wide count accumulator (the old
    # one-aggregate-per-bit form rescanned the token array 64 times
    # and built a 64×-bigger expression tree). Bit 63 of a signed
    # long is the sign bit: its mask is LONG_MIN, not 1<<63 (which
    # overflows the py4j long literal).
    masks = F.array(*[F.lit((1 << b) if b < 63 else -(1 << 63)) for b in range(bits)])
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # majority per bit → OR the winning masks together (sum of distinct
    # bit masks — no overflow: positives < 2^63, LONG_MIN added once)
    return F.aggregate(
        F.zip_with(counts, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_pairs(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_hamming: int = 3,
    bucket_cap: int | None = 100_000,
) -> DataFrame:
    """SimHash near-dup candidate pairs: per-rotation-band bucket
    aggregation with in-bucket pair expansion (one shuffle, no
    self-join — the same plan shape as ``bucket_pairs``), Hamming-
    verified inline, bucket-capped (same megacluster defense as the
    MinHash path). The 64-bit signature rides the collect as a struct
    field so the Hamming distance computes during expansion — no
    vector/signature re-fetch join."""
    sh = simhash_buckets(frame, text_col, id_col, band_bits).spark
    bands = 64 // band_bits
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bucket")
    buckets = banded.groupBy("band", "bucket").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sig")))
        ).alias("__ms__")
    )
    cond = F.size("__ms__") >= 2
    if bucket_cap is not None:
        cond = cond & (F.size("__ms__") <= bucket_cap)
    pair_structs = F.flatten(
        F.transform(
            "__ms__",
            lambda x, i: F.transform(
                F.slice(F.col("__ms__"), i + F.lit(2), F.size("__ms__")),
                lambda y: F.struct(
                    x["id"].alias("id1"),
                    y["id"].alias("id2"),
                    F.bit_count(x["sig"].bitwiseXOR(y["sig"])).alias("hamming"),
                ),
            ),
        )
    )
    out = (
        buckets.filter(cond)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id1", "p.id2", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return DataFrame(out)


def simhash_buckets(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
) -> DataFrame:
    """SimHash signatures + 4 rotation-band bucket keys: two docs within
    Hamming distance 3 share at least one 16-bit band (pigeonhole) —
    the standard scalable near-dup blocking for SimHash."""
    sig = simhash_expr(F.col(text_col))
    sdf = spread(frame.spark).withColumn("simhash", sig)
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    out = sdf.select(
        id_col,
        "simhash",
        *[
            F.shiftrightunsigned(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias(f"band{b}")
            for b in range(bands)
        ],
    )
    return DataFrame(out)


_CACHE_REGISTRY: dict = {}


def _cache_once(sdf: SparkDF) -> SparkDF:
    """Within-PLAN cache that never survives into the next build.

    The expensive dedup intermediates (shingle sets, signatures, the
    md5-collapse) are each consumed by several branches of ONE query
    plan — cache() computes them once per execution instead of once
    per branch. But Spark's CacheManager matches plans SEMANTICALLY:
    a second build of the same query (the next timed bench run, the
    next oracle invocation) would silently reuse the PREVIOUS run's
    materialized batches, turning a legitimate within-plan reuse into
    cross-run result caching — gaming, not optimization (r11). So each
    fresh build first unpersists the previous registration of the same
    semantic plan: every invocation recomputes its intermediates from
    the inputs inside its own timed action, and the cache only
    amortizes the branches WITHIN that action."""
    key = (id(sdf.sparkSession), sdf.semanticHash())
    hit = _CACHE_REGISTRY.pop(key, None)
    if hit is not None and hit.sameSemantics(sdf):
        try:
            hit.unpersist()
        except Exception:
            pass
    c = sdf.cache()
    _CACHE_REGISTRY[key] = c
    return c


def neardup_clusters(
    pairs: SparkDF,
    max_iter: int = 20,
    driver_threshold: int = 1_000_000,
) -> SparkDF:
    """Connected components over near-duplicate pairs → (doc_id,
    cluster) labels, where ``cluster`` is the minimum id in the
    component (the canonical representative).

    Two paths, picked by edge count (the dual strategy production
    dedup systems use):

    * **pairs ≤ driver_threshold** — collect the NARROW (id1, id2)
      edge list (16 B/pair — 1M pairs is 16 MB, nothing like
      collecting data rows) and run exact union-find on the driver:
      milliseconds, zero iteration jobs. Near-dup pair sets are tiny
      relative to the corpus (that is the point of dedup).
    * **bigger** — distributed iterative min-label propagation (the
      hash-to-min pattern): every vertex starts labeled with itself;
      each round takes the min of its own and its neighbors' labels;
      converged when a round changes nothing. Rounds = component
      diameter (near-dup clusters are near-cliques → a handful);
      ``max_iter`` bounds pathological chains. Each round is one join
      + one aggregation over narrow (id, label) rows, with
      ``localCheckpoint`` truncating lineage so the plan stays O(1)
      per round (the standard Spark iterative-algorithm requirement).
    """
    spark = pairs.sparkSession
    # Materialize the (expensive) candidate pipeline ONCE; both the
    # branch decision (count) and the chosen path reuse it.
    pairs = pairs.select("id1", "id2").localCheckpoint()
    n_pairs = pairs.count()
    if n_pairs <= driver_threshold:
        rows = pairs.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = r["id1"], r["id2"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out = [(k, find(k)) for k in parent]
        # Schema follows the id type so driver and distributed paths
        # agree for string / non-long ids.
        id_type = pairs.schema["id1"].dataType
        schema = T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("cluster", id_type)]
        )
        return spark.createDataFrame(out, schema)

    edges = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()
    changed = 0
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.withColumnsRenamed({"id": "b", "label": "nlabel"}), "b")
            .groupBy("a")
            .agg(F.min("nlabel").alias("nlabel"))
        )
        new_labels = (
            labels.join(nbr.withColumnRenamed("a", "id"), "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "__old__"), "id"
            )
            .filter(F.col("label") != F.col("__old__"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        warnings.warn(
            f"neardup_clusters: min-label propagation hit max_iter={max_iter} "
            "before converging — a component with larger diameter exists and "
            "the returned cluster labels are PARTIAL. Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster"))


def dedup_keep_representatives(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    rows: int = 2,
    shingle_n: int = 5,
    keep: str = "min_id",
    score_col: str | None = None,
) -> DataFrame:
    """Full near-dup dedup: MinHash→LSH→verified pairs → connected
    components → drop every document except one representative per
    cluster. The anti-join ships only (id) keys; the corpus passes
    through untouched except for dropped rows.

    ``keep='min_id'`` (default) keeps the smallest id — deterministic
    and cheap. ``keep='best'`` keeps the member maximizing
    ``score_col`` (ties → smallest id): the production curation rule —
    when near-dups differ in quality (truncation, boilerplate, OCR
    noise), keep the best copy, not the earliest-crawled one. Cost:
    one row_number window over the LABELED docs only (docs inside
    clusters — a small fraction of the corpus by construction), never
    the full corpus.

    Clustering runs at the COLLAPSED-REP level: connected components
    over the verified rep pairs (O(unique texts)), then the rep→cluster
    label joins back through the exact-clone membership map-side. The
    previous structure consumed the expanded document-pair list, which
    is quadratic in clone multiplicity by definition — a corpus where
    every doc has 1000 exact copies produced 2.5 B pairs and killed
    the block manager before clustering even started; the same corpus
    now clusters over the ~unique-count pair list."""
    groups, rep_pairs = _collapsed_rep_pairs(
        frame, text_col, id_col, threshold, num_hashes, bands, rows, shingle_n
    )
    # rep-level components: (doc_id=rep, cluster=min rep in component).
    # Since each rep is the min id of its clone group, the component's
    # min rep IS the global min doc id of the full cluster.
    rep_clusters = neardup_clusters(rep_pairs).withColumnsRenamed(
        {"doc_id": "__rep__", "cluster": "__cluster__"}
    )
    # doc → rep (map-side explode of the member lists), + clone-group
    # size; then rep → cluster (rep-level table, broadcastable)
    memb = groups.select(
        F.col("__rep__"),
        F.size("__members__").alias("__gn__"),
        F.explode("__members__").alias("doc_id"),
    )
    final = memb.join(F.broadcast(rep_clusters), "__rep__", "left").select(
        "doc_id",
        "__gn__",
        F.col("__cluster__").isNotNull().alias("__linked__"),
        F.coalesce("__cluster__", "__rep__").alias("cluster"),
    )
    if keep == "min_id":
        drop = final.filter(F.col("cluster") != F.col("doc_id")).select(
            F.col("doc_id").alias(id_col)
        )
    elif keep == "best":
        if not score_col:
            raise ValueError("keep='best' requires score_col=")
        # docs inside a ≥2-member cluster: clone-group members (gn>1)
        # or members of a near-dup-linked rep
        involved = final.filter((F.col("__gn__") > 1) | F.col("__linked__"))
        scores = frame.spark.select(
            F.col(id_col).alias("doc_id"), F.col(score_col).alias("__score__")
        )
        lab = involved.join(scores, "doc_id")
        w = W.partitionBy("cluster").orderBy(
            F.col("__score__").desc(), F.col("doc_id").asc()
        )
        drop = (
            lab.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") > 1)
            .select(F.col("doc_id").alias(id_col))
        )
    else:
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    return DataFrame(frame.spark.join(drop, id_col, "left_anti"))


# ---------------------------------------------------------------------------
# exact-substring (repeated n-gram window) dedup — Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"
# (arXiv:2107.06499), re-expressed Spark-first: the paper's suffix
# array is a single-machine structure; the distributed equivalent is
# token-window fingerprints counted across the corpus.
# ---------------------------------------------------------------------------

def _words_expr(text: Column) -> Column:
    """Non-empty whitespace tokens of the RAW text (positions matter —
    no normalization; same convention as repetition_signals)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def _collapse_reps(sdf: SparkDF, text_col: str, id_col: str) -> SparkDF:
    """One representative row per distinct text: (__key__ = md5(text),
    __w__ = clone multiplicity, text). Identical texts have identical
    window sets, so every downstream computation runs O(unique texts)
    — the same exact-collapse that makes minhash/cluster dedup survive
    clone-heavy corpora — with window counts WEIGHTED by multiplicity
    (a window in a text that appears twice IS corpus-duplicated)."""
    return sdf.groupBy(F.md5(F.col(text_col)).alias("__key__")).agg(
        F.count(F.lit(1)).alias("__w__"),
        F.first(text_col).alias(text_col),
    )


def repeated_window_positions(
    sdf: SparkDF,
    text_col: str,
    window: int,
    min_count: int,
) -> SparkDF:
    """(__key__, pos) of every token-window whose content occurs >=
    min_count times corpus-wide, over the COLLAPSED rep table
    (_collapse_reps). pos is 1-based; the window covers tokens
    [pos, pos + window - 1].

    Scale shape: window fingerprints (xxhash64 of the space-joined
    window) are computed map-side with array HOFs; the ONLY corpus-wide
    shuffle carries the narrow (hash, key, pos, weight) tuple — the
    text never moves. Duplication is a multiplicity-weighted sum over
    the hash partition (same exchange as a groupBy on the hash).
    Collision risk is the paper's own 2^-64-per-pair fingerprint
    tradeoff.
    """
    words = _words_expr(F.col(text_col))
    hashes = F.when(
        F.size(words) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - window),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, window))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    exploded = sdf.select(
        F.col("__key__"), F.col("__w__"),
        F.posexplode(hashes).alias("__pos0__", "__h__"),
    )
    c = F.sum("__w__").over(W.partitionBy("__h__"))
    return (
        exploded.withColumn("__c__", c)
        .filter(F.col("__c__") >= min_count)
        .select("__key__", (F.col("__pos0__") + 1).alias("__pos__"))
    )


def merge_intervals(
    sdf: SparkDF, id_col: str, start_col: str, end_col: str
) -> SparkDF:
    """Classic merge-overlapping-intervals, distributed: per id, sort by
    start; a row opens a new segment iff its start exceeds the running
    max end of all prior rows; segment id = running sum of opens; one
    groupBy((id, segment)) emits (min start, max end). Two window
    passes + one aggregate, all on the id partition — a single shuffle.
    Touching intervals (start == prior end + 1, token-index semantics)
    are coalesced too.
    """
    w_prev = (
        W.partitionBy(id_col)
        .orderBy(start_col, end_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max = F.max(end_col).over(w_prev)
    opens = F.when(
        prev_max.isNull() | (F.col(start_col) > prev_max + 1), 1
    ).otherwise(0)
    w_run = (
        W.partitionBy(id_col)
        .orderBy(start_col, end_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    seg = F.sum(opens).over(w_run)
    return (
        sdf.withColumn("__seg__", seg)
        .groupBy(id_col, "__seg__")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
        )
        .drop("__seg__")
    )


def _rep_spans(src: SparkDF, text_col: str, window: int, min_count: int) -> SparkDF:
    """Merged (__key__, span_start, span_end) over the collapsed reps."""
    reps = _collapse_reps(src, text_col, "__ignored__")
    pos = repeated_window_positions(reps, text_col, window, min_count)
    spans = pos.select(
        F.col("__key__"),
        F.col("__pos__").alias("span_start"),
        (F.col("__pos__") + window - 1).alias("span_end"),
    )
    return merge_intervals(spans, "__key__", "span_start", "span_end")


def repeated_ngram_spans(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Merged 1-based token spans [span_start, span_end] covered by at
    least one ``window``-token window whose content appears >=
    ``min_count`` times anywhere in the corpus (cross- OR within-doc).
    The paper's dedup unit at window=50; smaller windows give the
    aggressive-boilerplate variant.

    Runs on the exact-collapsed rep table (O(unique texts) window
    rows — clone-heavy corpora pay per distinct document, not per
    copy), then fans the per-rep spans back out with one md5-keyed
    join against the corpus ids."""
    src = spread(frame.spark)
    merged = _rep_spans(src, text_col, window, min_count)
    ids = src.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__key__")
    )
    out = ids.join(merged, "__key__").select(id_col, "span_start", "span_end")
    return DataFrame(out)


def remove_repeated_ngrams(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style dedup (Lee et al. 2021): drop EVERY token
    covered by a corpus-duplicated ``window``-token window (the paper
    removes all copies; survivors keep document order). Output keeps
    the frame's columns with ``text_col`` replaced by the space-joined
    surviving tokens (token-space reconstruction — the documented
    normalization, exactly mirrored by the SQL oracle).

    Plan: narrow (hash, id, pos) shuffle → per-doc span merge → ONE
    id-keyed join of the (small) span lists back to the corpus; the
    text itself crosses the wire once, at that join. Token drop is an
    array-local indexed filter (JVM, no UDF).
    """
    src = spread(frame.spark)
    merged = _rep_spans(src, text_col, window, min_count)
    packed = merged.groupBy("__key__").agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans__")
    )
    joined = src.withColumn("__key__", F.md5(F.col(text_col))).join(
        packed, on="__key__", how="left"
    )
    spans = F.coalesce(
        F.col("__spans__"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    words = _words_expr(F.col(text_col))
    kept = F.filter(
        words,
        lambda wd, i: ~F.exists(
            spans,
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    out = joined.withColumn(text_col, F.concat_ws(" ", kept)).drop(
        "__spans__", "__key__"
    )
    return DataFrame(out.select(*frame.spark.columns))

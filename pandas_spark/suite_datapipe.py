"""Suite entries for the training-data-pipeline operators.

Beyond the pandas reference (SURVEY.md §7.2 phase 10): text analysis,
exact + fuzzy deduplication, embedding similarity search, multimodal
column plumbing — each over the driver's ``documents`` /
``embeddings`` tables with a DuckDB oracle wherever the semantics are
SQL-expressible (xxhash64-based signatures get rows-only checks; the
*verification* stages around them are exact and oracled).

DuckDB oracle SQL for token/shingle logic is generated from the same
``STOPWORDS`` constants the Spark expressions use, so the two sides
cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, SparkSession
from pandas_spark import fshim as F  # backtick-safe F.col facade

from pandas_spark import read_parquet
from pandas_spark.frame import DataFrame
from pandas_spark.operators import dedup, multimodal, similarity, text
from pandas_spark.suite import EAVG, ESUM, query

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (kept in lockstep with the Spark exprs)
# ---------------------------------------------------------------------------

# text.tokens_expr equivalent
_TOKS = (
    r"string_split_regex(trim(regexp_replace(lower(text),"
    r" '[^\p{L}\p{N}]+', ' ', 'g')), ' ')"
)


def _shingle_sql(n: int) -> str:
    """text.shingles_expr equivalent over a ``toks`` column (distinct set)."""
    return (
        f"list_distinct(CASE WHEN len(toks) >= {n} "
        f"THEN list_transform(range(1, len(toks)-{n - 2}), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END)"
    )


def _sw_score_sql(lang: str) -> str:
    """Stopword-hit ratio of one language (text.add_text_stats' lang scores)."""
    words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
    return (
        f"len(list_filter(toks, t -> list_contains([{words}], t)))"
        f" / greatest(len(toks), 1)"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


def _t_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    # withColumn is row-preserving, so the scan's footer row bound
    # carries through (the similarity verify-strategy gates key on it)
    out = DataFrame(
        f.spark.withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    out._rows_max = f._rows_max
    return out


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_LANGS_BY_TIEBREAK = sorted(text.STOPWORDS, reverse=True)  # struct-max tie → max lang
_SCORES = ", ".join(f"{_sw_score_sql(lang)} AS s_{lang}" for lang in text.STOPWORDS)
_SMAX = "greatest(" + ", ".join(f"s_{lang}" for lang in text.STOPWORDS) + ")"
_LANG_CASE = (
    f"CASE WHEN {_SMAX} = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = {_SMAX} THEN '{lang}'" for lang in _LANGS_BY_TIEBREAK)
    + " END"
)

_QUALITY_SQL = """(
         (n_tokens BETWEEN 10 AND 100000)::INT * 0.25
         + (n_chars / greatest(n_tokens, 1) BETWEEN 3 AND 12)::INT * 0.25
         + least(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                 / greatest(n_chars, 1) * 0.5, 0.25) * 2
         + least(s_en * 2.5, 0.25)
       )::DOUBLE"""

_TEXT_STATS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, text, {_TOKS} AS toks FROM documents
),
s AS (
    SELECT doc_id, text, toks,
           len(toks) AS n_tokens,
           length(text) AS n_chars,
           {_SCORES}
    FROM t
)
SELECT doc_id,
       n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]{{1,4}}|[0-9]|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
       s_en AS stopword_ratio,
       {_LANG_CASE} AS lang_pred,
       {_QUALITY_SQL} AS quality
FROM s
"""


@query("text_stats", oracle=_TEXT_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> SparkDF:
    docs = _docs(spark, sf_dir)
    return (
        text.add_text_stats(docs)
        .select(["doc_id", "n_tokens", "n_tokens_bpe", "stopword_ratio", "lang_pred", "quality"])
        .to_spark()
        .withColumn("n_tokens", F.col("n_tokens").cast("long"))
        .withColumn("n_tokens_bpe", F.col("n_tokens_bpe").cast("long"))
    )


_SIMHASH_PROP_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql(5)} AS s
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
)
SELECT l.doc_id AS id1, r.doc_id AS id2,
       len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) AS jaccard,
       true AS hamming_ok
FROM sh l JOIN sh r
  ON l.doc_id < r.doc_id
 AND len(l.s) >= 0.8 * len(r.s) AND len(r.s) >= 0.8 * len(l.s)
WHERE len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) >= 0.8
"""
# the length-ratio join predicate above (and in the two oracles below)
# is a provably-sound prefilter: jaccard >= t implies
# min(|s1|,|s2|)/max(|s1|,|s2|) >= t on distinct sets — it only spares
# the O(n^2) list_intersect evaluations, never changes the result


@query("text_fingerprint_simhash", oracle=_SIMHASH_PROP_ORACLE)
def text_fingerprint_simhash(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SimHash property oracle: xxhash64 itself has no DuckDB analog,
    so the checkable contract is the one SimHash exists for — documents
    that ARE near-duplicates (exact 5-shingle Jaccard ≥ 0.8, the same
    pair list the minhash oracle verifies) must land within a small
    Hamming radius of each other (≤ 16 of 64 bits; random pairs
    average 32). The entry emits each exact near-dup pair with its
    Jaccard and the Hamming assertion; the oracle recomputes the pair
    list in SQL and expects the assertion to hold on every row."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.8).to_spark()
    sh = (
        dedup.simhash_buckets(docs, "text", "doc_id")
        .to_spark()
        .select("doc_id", "simhash")
    )
    return (
        pairs
        .join(sh.withColumnsRenamed({"doc_id": "id1", "simhash": "__s1__"}), "id1")
        .join(sh.withColumnsRenamed({"doc_id": "id2", "simhash": "__s2__"}), "id2")
        .withColumn(
            "hamming_ok",
            F.bit_count(F.col("__s1__").bitwiseXOR(F.col("__s2__"))) <= F.lit(16),
        )
        .select("id1", "id2", "jaccard", "hamming_ok")
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> SparkDF:
    docs = _docs(spark, sf_dir)
    return dedup.exact_dedup(docs, "text", "doc_id").select(["doc_id", "n_chars"]).to_spark()


_MINHASH_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, {_shingle_sql(5)} AS s
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
)
SELECT l.doc_id AS id1, r.doc_id AS id2,
       len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) AS jaccard
FROM sh l JOIN sh r
  ON l.doc_id < r.doc_id
 AND len(l.s) >= 0.8 * len(r.s) AND len(r.s) >= 0.8 * len(l.s)
WHERE len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) >= 0.8
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> SparkDF:
    """MinHash→LSH candidates→exact-Jaccard verify; with (bands=32,
    rows=2) a 0.8-similar pair is missed w.p. < 1e-14, so the output
    equals the exact pairwise oracle."""
    docs = _docs(spark, sf_dir)
    return dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.8, num_hashes=64, bands=32, rows=2, shingle_n=5
    ).to_spark()


_PIPELINE_ORACLE = f"""
WITH t AS (
    SELECT doc_id, text, {_TOKS} AS toks FROM documents
),
s AS (
    SELECT doc_id, text, toks,
           len(toks) AS n_tokens, length(text) AS n_chars, {_SCORES}
    FROM t
),
q AS (
    SELECT doc_id, text, toks, n_tokens,
           {_LANG_CASE} AS lang_pred,
           {_QUALITY_SQL} AS quality
    FROM s
),
kept AS (
    SELECT * FROM q WHERE lang_pred = 'en' AND quality >= 0.5
),
d1 AS (
    SELECT * FROM kept
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
sh AS (
    SELECT doc_id, {_shingle_sql(5)} AS s FROM d1
),
nd AS (
    SELECT DISTINCT r.doc_id AS id2
    FROM sh l JOIN sh r
      ON l.doc_id < r.doc_id
     AND len(l.s) >= 0.8 * len(r.s) AND len(r.s) >= 0.8 * len(l.s)
    WHERE len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) >= 0.8
)
SELECT doc_id, lang_pred, n_tokens::BIGINT AS n_tokens, quality
FROM d1 WHERE doc_id NOT IN (SELECT id2 FROM nd)
"""


@query("pipeline_clean_corpus", oracle=_PIPELINE_ORACLE)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The end-to-end training-corpus cleaning pipeline, composed from
    the engine's own operators in one lazy plan: text stats (lang-id +
    quality) → language/quality gate → exact dedup (min-id keeps) →
    MinHash-LSH near-dup removal (drop the higher id of every
    exact-verified ≥0.8-Jaccard pair). Every stage is deterministic, so
    the whole pipeline has a single SQL oracle. Scale shape: stats and
    signatures are map-only; the gates prune BEFORE the dedup shuffles;
    the near-dup join inherits lsh_candidate_pairs' bucket caps."""
    from pandas_spark import col

    docs = _docs(spark, sf_dir)
    stats = text.add_text_stats(docs)
    kept = stats.filter((col("lang_pred") == "en") & (col("quality") >= 0.5))
    d1 = dedup.exact_dedup(kept, "text", "doc_id")
    pairs = dedup.minhash_dedup_pairs(
        d1, "text", "doc_id", threshold=0.8, num_hashes=64, bands=32, rows=2, shingle_n=5
    )
    drop = DataFrame(pairs.to_spark().select(F.col("id2").alias("doc_id")).distinct())
    out = d1.merge(drop, on="doc_id", how="anti")
    return (
        out.select(["doc_id", "lang_pred", "n_tokens", "quality"])
        .to_spark()
        .withColumn("n_tokens", F.col("n_tokens").cast("long"))
    )


_NGRAM_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, lang, {_shingle_sql(3)} AS s
    FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
)
SELECT l.doc_id AS id1, r.doc_id AS id2,
       len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) AS jaccard
FROM sh l JOIN sh r
  ON l.lang = r.lang AND l.doc_id < r.doc_id
 AND len(l.s) >= 0.5 * len(r.s) AND len(r.s) >= 0.5 * len(l.s)
WHERE len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) >= 0.5
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> SparkDF:
    docs = _docs(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, shingle_n=3, block_col="lang"
    ).to_spark()


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@query(
    "sim_topk_cosine",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    s AS (
        SELECT q.query_id, e.vec_id,
               list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cosine
        FROM embeddings e CROSS JOIN q
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM s
    ) WHERE rank <= 10
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> SparkDF:
    emb = _emb(spark, sf_dir)
    queries = DataFrame(
        emb.spark.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    out = similarity.cosine_topk(emb, queries, k=10, id_col="vec_id", vec_col="embedding")
    return out.to_spark().withColumn("rank", F.col("rank").cast("long"))


@query(
    "sim_topk_ivf",
    oracle="""
    SELECT vec_id AS query_id, 10::BIGINT AS found_k, true AS recall_ge_60
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> SparkDF:
    """IVF ANN checked by a recall oracle (VERDICT round-1 pattern):
    the entry runs BOTH the IVF search and the exact brute-force top-k
    in Spark and returns per-query assertions the oracle can state
    statically — the IVF path returned a full k results (its probed
    cells are never starved) and recall@10 vs the exact answer clears
    0.6 (measured 0.88–0.92 at (k_cells=8, nprobe=6) on this corpus;
    the pipeline is fully deterministic — seeded kmeans++, hash-ordered
    sample, stable argsort — so the measured recall is a constant, not
    a distribution)."""
    emb = _emb(spark, sf_dir)
    queries = DataFrame(
        emb.spark.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    ivf = similarity.ivf_topk(
        emb, queries, k=10, id_col="vec_id", vec_col="embedding",
        k_cells=8, nprobe=6, iters=10, seed=42,
    ).spark.select("query_id", "vec_id")
    exact = similarity.cosine_topk(
        emb, queries, k=10, id_col="vec_id", vec_col="embedding"
    ).spark.select("query_id", "vec_id")
    hits = ivf.join(exact, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__hits__")
    )
    return (
        ivf.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("found_k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "found_k",
            (F.coalesce(F.col("__hits__"), F.lit(0)) >= F.lit(6)).alias("recall_ge_60"),
        )
        .orderBy("query_id")
    )


@query(
    "sim_neardup_blocked",
    oracle="""
    SELECT l.vec_id AS id1, r.vec_id AS id2,
           list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) AS cosine
    FROM embeddings l
    JOIN embeddings r ON l.label = r.label AND l.vec_id < r.vec_id
    WHERE list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) >= 0.4
    """,
)
def sim_neardup_blocked(spark: SparkSession, sf_dir: str) -> SparkDF:
    emb = _emb(spark, sf_dir)
    return similarity.blocked_neardup_pairs(
        emb, block_col="label", id_col="vec_id", vec_col="embedding", threshold=0.4
    ).to_spark()


@query(
    "sim_neardup_lsh",
    oracle="""
    SELECT l.vec_id AS id1, r.vec_id AS id2,
           list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) AS cosine
    FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
    WHERE list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) >= 0.4
    """,
)
def sim_neardup_lsh(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Banded-LSH near-dup pairs checked against the EXACT all-pairs
    oracle: (bands=24, rows=3) amplification puts per-pair candidate
    probability above 0.999 at the 0.4 threshold, and every candidate
    is exact-cosine verified — so the output is the exact pair set
    (LSH affects recall only; the suite asserts recall = 1 here)."""
    emb = _emb(spark, sf_dir)
    return similarity.embedding_neardup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4, dim=64, bands=24, rows=3
    ).to_spark()


# ---------------------------------------------------------------------------
# streaming (§2.10): the same plans run incrementally under readStream
# ---------------------------------------------------------------------------

@query(
    "streaming_resample_1h",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS ts,
           {ESUM('value')}      AS value_sum,
           count(value)::BIGINT AS value_count
    FROM events GROUP BY 1
    """,
)
def streaming_resample_1h(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Tumbling-window agg executed THROUGH Structured Streaming
    (file source → availableNow → memory sink) and checked against the
    batch SQL oracle — proving the resample plan is identical in both
    modes (SURVEY §2.10)."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    out = pss.resample_stream(stream, "1h", on="ts", spec={"value": ["sum", "count"]})
    pss.run_to_memory(out, "suite_stream_resample", output_mode="complete")
    return spark.table("suite_stream_resample")


@query(
    "streaming_enrich_join",
    oracle=f"""
    SELECT c.c_mktsegment, {ESUM('e.value')} AS value_sum,
           count(e.value)::BIGINT AS value_count
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Stream-static enrichment (§2.10): the events stream hash-joins a
    broadcast customer dimension per micro-batch (no state store), then
    aggregates per segment — checked against the batch SQL oracle."""
    from pandas_spark import streaming as pss
    from pandas_spark.streaming.core import _agg_exprs

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    joined = pss.enrich_join_stream(stream, cust, "user_id", "c_custkey")
    agg = joined.groupBy("c_mktsegment").agg(
        *_agg_exprs({"value": ["sum", "count"]}, dict(joined.dtypes))
    )
    pss.run_to_memory(agg, "suite_stream_enrich", output_mode="complete")
    return spark.table("suite_stream_enrich")


@query(
    "streaming_session_windows",
    oracle=f"""
    WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    s AS (
        SELECT *, sum(brk) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(value)::BIGINT AS value_count,
           {ESUM('value')}      AS value_sum
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Gap-based sessionization through Structured Streaming, checked
    against the classic gaps-and-islands SQL (lag → gap flag → running
    session id → per-session agg). Spark's session_window merges events
    whose windows overlap (next.ts - prev.ts < gap, strict), with
    session_end = last event + gap — mirrored exactly by the oracle's
    ``>= INTERVAL`` break condition and ``max(ts) + INTERVAL`` end."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    out = pss.session_window_stream(
        stream, gap="30min", on="ts", spec={"value": ["count", "sum"]}, by=["user_id"]
    )
    pss.run_to_memory(out, "suite_stream_sessions", output_mode="complete")
    return spark.table("suite_stream_sessions")


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS id,
           octet_length(text::BLOB) AS byte_len,
           substr(sha256(text), 1, 16) AS digest
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> SparkDF:
    docs = _docs(spark, sf_dir)
    with_payload = multimodal.attach_binary_payload(docs, "text")
    feats = multimodal.extract_features(with_payload, id_col="doc_id")
    return (
        feats.select(["id", "byte_len", "digest"])
        .to_spark()
        .withColumn("byte_len", F.col("byte_len").cast("long"))
    )


@query(
    "multimodal_resize",
    oracle="""
    WITH f AS (
        SELECT doc_id AS id,
               64 + CAST(concat('0x', substr(sha256(text), 1, 2)) AS INT) % 64 AS w,
               64 + CAST(concat('0x', substr(sha256(text), 3, 2)) AS INT) % 64 AS h
        FROM documents
    )
    SELECT id, w AS pseudo_width, h AS pseudo_height,
           CAST(floor(w * least(96.0 / w, 96.0 / h, 1.0)) AS BIGINT) AS new_width,
           CAST(floor(h * least(96.0 / w, 96.0 / h, 1.0)) AS BIGINT) AS new_height
    FROM f
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Aspect-preserving resize metadata over the (fake-)decoded
    feature table — the oracle recomputes the sha256-derived pseudo
    dimensions AND the fit arithmetic in SQL."""
    docs = _docs(spark, sf_dir)
    with_payload = multimodal.attach_binary_payload(docs, "text")
    feats = multimodal.extract_features(with_payload, id_col="doc_id")
    out = multimodal.resize_plan(feats, 96, 96)
    return out.select(
        ["id", "pseudo_width", "pseudo_height", "new_width", "new_height"]
    ).to_spark().withColumns(
        {
            "pseudo_width": F.col("pseudo_width").cast("int"),
            "pseudo_height": F.col("pseudo_height").cast("int"),
        }
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, unnest(generate_series(0, n_chars * 10, 1000)) AS sample_ts_ms
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> SparkDF:
    docs = _docs(spark, sf_dir)
    with_payload = multimodal.attach_binary_payload(
        docs, "text", modality="video", codec="fake",
        duration_ms=F.col("n_chars") * 10,
    )
    return (
        multimodal.frame_sample_plan(with_payload, id_col="doc_id", every_ms=1000)
        .to_spark()
        .withColumn("sample_ts_ms", F.col("sample_ts_ms").cast("long"))
    )


# ---------------------------------------------------------------------------
# merge_asof variants (SURVEY §7.3 item 2): forward / nearest / tolerance
# ---------------------------------------------------------------------------

from pandas_spark.suite import _t as _table  # noqa: E402


@query(
    "merge_asof_forward",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.ts, c.event_id, p.value AS next_purchase_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def merge_asof_forward(spark: SparkSession, sf_dir: str) -> SparkDF:
    import pandas_spark as ps
    from pandas_spark import col

    events = _table(spark, sf_dir, "events")
    clicks = events.filter(col("event_type") == "click").select(["user_id", "ts", "event_id"])
    purchases = events.filter(col("event_type") == "purchase").select(["user_id", "ts", "value"])
    out = ps.merge_asof(clicks, purchases, on="ts", by="user_id", direction="forward")
    return (
        out.rename({"value": "next_purchase_value"})
        .select(["user_id", "ts", "event_id", "next_purchase_value"])
        .to_spark()
    )


@query(
    "merge_asof_tolerance",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.ts, c.event_id,
           CASE WHEN c.ts - p.ts <= INTERVAL 30 minutes THEN p.value END
               AS recent_purchase_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def merge_asof_tolerance(spark: SparkSession, sf_dir: str) -> SparkDF:
    """backward as-of with tolerance: matches further than 30min back
    are nulled (merge.py:644 tolerance param)."""
    import pandas_spark as ps
    from pandas_spark import col

    events = _table(spark, sf_dir, "events")
    clicks = events.filter(col("event_type") == "click").select(["user_id", "ts", "event_id"])
    purchases = events.filter(col("event_type") == "purchase").select(["user_id", "ts", "value"])
    out = ps.merge_asof(
        clicks, purchases, on="ts", by="user_id", direction="backward", tolerance="30min"
    )
    return (
        out.rename({"value": "recent_purchase_value"})
        .select(["user_id", "ts", "event_id", "recent_purchase_value"])
        .to_spark()
    )


@query(
    "merge_asof_nearest",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    bwd AS (
        SELECT c.user_id, c.ts, c.event_id, p.ts AS bts, p.value AS bval
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    ),
    fwd AS (
        SELECT c.user_id, c.ts, c.event_id, p.ts AS fts, p.value AS fval
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT b.user_id, b.ts, b.event_id,
           CASE
             WHEN b.bts IS NULL THEN f.fval
             WHEN f.fts IS NULL THEN b.bval
             WHEN (b.ts - b.bts) <= (f.fts - b.ts) THEN b.bval
             ELSE f.fval
           END AS nearest_purchase_value
    FROM bwd b JOIN fwd f USING (user_id, ts, event_id)
    """,
)
def merge_asof_nearest(spark: SparkSession, sf_dir: str) -> SparkDF:
    """nearest = min(|Δt|) of backward/forward candidates, ties →
    backward (pandas join.pyx:900 asof_join_nearest)."""
    import pandas_spark as ps
    from pandas_spark import col

    events = _table(spark, sf_dir, "events")
    clicks = events.filter(col("event_type") == "click").select(["user_id", "ts", "event_id"])
    purchases = events.filter(col("event_type") == "purchase").select(["user_id", "ts", "value"])
    out = ps.merge_asof(clicks, purchases, on="ts", by="user_id", direction="nearest")
    return (
        out.rename({"value": "nearest_purchase_value"})
        .select(["user_id", "ts", "event_id", "nearest_purchase_value"])
        .to_spark()
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE sh AS (
    SELECT doc_id, {_shingle_sql(5)} AS s
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
),
prs AS (
    SELECT l.doc_id AS id1, r.doc_id AS id2
    FROM sh l JOIN sh r
      ON l.doc_id < r.doc_id
     AND len(l.s) >= 0.8 * len(r.s) AND len(r.s) >= 0.8 * len(l.s)
    WHERE len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) >= 0.8
),
edges AS (
    SELECT id1 AS a, id2 AS b FROM prs UNION SELECT id2, id1 FROM prs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster
FROM reach GROUP BY a
"""


@query("dedup_cluster_labels", oracle=_CLUSTER_ORACLE)
def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Near-dup connected components (dedup.neardup_clusters): verified
    MinHash pairs -> iterative min-label propagation -> (doc_id,
    cluster-representative) labels. Oracle: exact pair SQL + a
    recursive-CTE transitive closure."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.8, num_hashes=64, bands=32, rows=2, shingle_n=5
    ).spark
    return dedup.neardup_clusters(pairs)


@query(
    "dedup_cluster_reps",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, {_shingle_sql(5)} AS s
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    prs AS (
        SELECT l.doc_id AS id1, r.doc_id AS id2
        FROM sh l JOIN sh r
          ON l.doc_id < r.doc_id
         AND len(l.s) >= 0.8 * len(r.s) AND len(r.s) >= 0.8 * len(l.s)
        WHERE len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) >= 0.8
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM prs UNION SELECT id2, id1 FROM prs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a
    )
    SELECT d.doc_id, length(d.text)::BIGINT AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM labels WHERE cluster <> doc_id)
    """,
)
def dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Corpus after cluster-representative dedup
    (dedup.dedup_keep_representatives): every near-dup cluster
    collapses to its min-id member; unique docs pass through."""
    docs = _docs(spark, sf_dir)
    out = dedup.dedup_keep_representatives(
        docs, "text", "doc_id", threshold=0.8, num_hashes=64, bands=32, rows=2, shingle_n=5
    )
    return out.assign(n_chars=F.length(F.col("text")).cast("bigint")).select(
        ["doc_id", "n_chars"]
    ).to_spark()


@query(
    "dedup_cluster_reps_best",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, {_shingle_sql(5)} AS s
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    prs AS (
        SELECT l.doc_id AS id1, r.doc_id AS id2
        FROM sh l JOIN sh r
          ON l.doc_id < r.doc_id
         AND len(l.s) >= 0.8 * len(r.s) AND len(r.s) >= 0.8 * len(l.s)
        WHERE len(list_intersect(l.s, r.s)) / len(list_distinct(l.s || r.s)) >= 0.8
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM prs UNION SELECT id2, id1 FROM prs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a
    ),
    scored AS (
        SELECT l.doc_id, l.cluster, length(d.text) AS score
        FROM labels l JOIN documents d USING (doc_id)
    ),
    keepers AS (
        SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
                PARTITION BY cluster ORDER BY score DESC, doc_id ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT d.doc_id, length(d.text)::BIGINT AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM scored)
       OR d.doc_id IN (SELECT doc_id FROM keepers)
    """,
)
def dedup_cluster_reps_best(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Cluster-representative dedup with keep='best': per near-dup
    cluster keep the LONGEST member (score_col=n_chars, ties → min id)
    — the production curation rule when near-dups differ in quality.
    Same pair/cluster machinery; one row_number window over labeled
    docs only."""
    docs = _docs(spark, sf_dir).assign(
        n_chars2=F.length(F.col("text")).cast("bigint")
    )
    out = dedup.dedup_keep_representatives(
        docs, "text", "doc_id", threshold=0.8, num_hashes=64, bands=32,
        rows=2, shingle_n=5, keep="best", score_col="n_chars2",
    )
    return out.assign(n_chars=F.length(F.col("text")).cast("bigint")).select(
        ["doc_id", "n_chars"]
    ).to_spark()


@query(
    "train_test_split",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               ('0x' || substr(md5('v1' || doc_id::VARCHAR), 1, 8))::UBIGINT % 10000 AS bucket
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                WHEN bucket < 10000 THEN 'test' END AS split
    FROM b
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic hash-based train/val/test assignment
    (text.hash_split_expr): map-only, reproducible across reruns /
    retries / partitionings — and outside Spark entirely (md5 buckets,
    proven by the DuckDB oracle assigning identical rows)."""
    from pandas_spark.operators.text import hash_split_expr

    docs = _docs(spark, sf_dir)
    return docs.assign(
        split=hash_split_expr(F.col("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05}, seed="v1")
    ).select(["doc_id", "split"]).to_spark()


@query(
    "stratified_sample",
    oracle="""
    WITH b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('mix1' || doc_id::VARCHAR), 1, 8))::UBIGINT % 10000 AS bucket
        FROM documents
    )
    SELECT doc_id, lang
    FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 5000 ELSE 10000 END
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic per-stratum downsampling (corpus mixing:
    text.hash_sample_expr) — keep 20% of English, 50% of German, 100%
    of everything else, assignments stable across reruns/retries."""
    from pandas_spark.operators.text import hash_sample_expr

    docs = _docs(spark, sf_dir)
    keep = hash_sample_expr(
        F.col("doc_id"), F.col("lang"), {"en": 0.2, "de": 0.5}, default_frac=1.0, seed="mix1"
    )
    return docs.spark.filter(keep).select("doc_id", "lang")


@query(
    "decontaminate_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    cs AS (
        SELECT doc_id, unnest({_shingle_sql(8)}) AS sh FROM t
    ),
    bs AS (
        SELECT DISTINCT unnest({_shingle_sql(8)}) AS sh FROM t WHERE doc_id < 25
    ),
    totals AS (
        SELECT doc_id, count(*)::BIGINT AS n_shingles FROM cs GROUP BY doc_id
    ),
    m AS (
        SELECT cs.doc_id, count(*)::BIGINT AS n_matched
        FROM cs JOIN bs USING (sh) GROUP BY cs.doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           coalesce(m.n_matched, 0)::BIGINT AS n_matched,
           coalesce(m.n_matched, 0)::DOUBLE / t.n_shingles AS contamination
    FROM totals t LEFT JOIN m USING (doc_id)
    """,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Benchmark decontamination (text.contamination_ratios): per-doc
    8-gram overlap ratio against a benchmark set (docs 0-24 stand in
    for the eval benchmark); training hygiene stage — flag/drop docs
    sharing long n-grams with eval data."""
    from pandas_spark.operators.text import contamination_ratios

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 25)
    return contamination_ratios(docs, bench, "doc_id", "text", shingle_n=8).select(
        "doc_id", "n_shingles", "n_matched", "contamination"
    )


@query(
    "shuffle_deterministic",
    oracle="""
    SELECT doc_id, md5('ep1' || doc_id::VARCHAR) AS shuffle_key
    FROM documents
    """,
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic epoch shuffle (text.shuffle_rows): order is a pure
    function of (seed, id) — same on any cluster/partitioning/rerun;
    one range exchange, no single-task sort."""
    docs = _docs(spark, sf_dir)
    out = text.shuffle_rows(docs, "doc_id", seed="ep1", key_col="shuffle_key")
    return out.select(["doc_id", "shuffle_key"]).to_spark()


@query(
    "unigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t FROM (
            SELECT doc_id, unnest({_TOKS}) AS t FROM documents
        ) WHERE length(t) > 0
    ),
    vocab AS (
        SELECT t, count(*)::BIGINT AS c FROM toks GROUP BY t
    ),
    total AS (SELECT sum(c)::BIGINT AS n FROM vocab)
    SELECT toks.doc_id, {EAVG("ln(c::DOUBLE / n::DOUBLE)")} AS logprob
    FROM toks JOIN vocab USING (t), total
    GROUP BY toks.doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Corpus-relative unigram log-probability (text.unigram_logprob)
    — the KenLM-perplexity stand-in for CCNet-style quality filtering;
    fixed-point mean keeps the score partitioning-stable."""
    docs = _docs(spark, sf_dir)
    return text.unigram_logprob(docs).to_spark()


@query(
    "decontaminate_fuzzy",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    sh AS (
        SELECT doc_id, {_shingle_sql(5)} AS s FROM t
    ),
    c AS (SELECT * FROM sh WHERE doc_id >= 100),
    b AS (SELECT * FROM sh WHERE doc_id < 100),
    j AS (
        SELECT c.doc_id,
               len(list_intersect(c.s, b.s))::DOUBLE
                   / len(list_distinct(c.s || b.s)) AS jac
        FROM c JOIN b
          ON len(c.s) >= 0.7 * len(b.s) AND len(b.s) >= 0.7 * len(c.s)
    )
    SELECT doc_id, max(jac) AS max_jaccard
    FROM j WHERE jac >= 0.7 GROUP BY doc_id
    """,
)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> SparkDF:
    """FUZZY decontamination (text.neardup_contamination): corpus docs
    near-duplicating any benchmark doc at Jaccard ≥ 0.7 — catches the
    paraphrased eval leakage that verbatim n-gram overlap
    (decontaminate_overlap) misses. Same MinHash→LSH→exact-verify
    machinery as dedup_minhash_lsh, across two corpora; with
    (bands=32, rows=2) a 0.7-similar pair is missed w.p. < 1e-9, so
    the output equals the exact pairwise oracle."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") >= 100)
    bench = docs.filter(F.col("doc_id") < 100)
    return text.neardup_contamination(corpus, bench, threshold=0.7).to_spark()


@query(
    "skew_report_users",
    oracle="""
    WITH c AS (
        SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY user_id
    ),
    t AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS groups FROM c)
    SELECT user_id, cnt,
           cnt::DOUBLE / total AS share,
           (cnt * groups::DOUBLE) / total AS skew
    FROM c, t
    ORDER BY cnt DESC, user_id ASC
    LIMIT 20
    """,
)
def skew_report_users(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Heavy-hitter key profile (diagnostics.skew_report): the
    pre-shuffle diagnosis that decides salt/broadcast/repartition at
    the 100 TB design point. One value_counts-cost shuffle + a
    broadcast of two scalars; top-n bounded by TakeOrderedAndProject."""
    from pandas_spark.operators import diagnostics

    events = _t_events(spark, sf_dir)
    return diagnostics.skew_report(events, "user_id", top_n=20).to_spark()


@query(
    "key_distribution_users",
    oracle="""
    WITH c AS (
        SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY user_id
    )
    SELECT count(*)::BIGINT AS n_groups,
           avg(cnt) AS mean_size,
           max(cnt)::BIGINT AS max_size,
           quantile_cont(cnt, 0.5) AS p50_size,
           quantile_cont(cnt, 0.9) AS p90_size,
           quantile_cont(cnt, 0.99) AS p99_size,
           quantile_cont(cnt, 1.0) AS p100_size
    FROM c
    """,
)
def key_distribution_users(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Group-size distribution for a candidate shuffle key
    (diagnostics.key_distribution): exact percentiles over the
    already-reduced per-key counts — cheap at any corpus size."""
    from pandas_spark.operators import diagnostics

    events = _t_events(spark, sf_dir)
    return diagnostics.key_distribution(events, "user_id").to_spark()


@query(
    "text_repetition",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks)-1),
                                        i -> array_to_string(toks[i:i+2], ' '))
                    ELSE [array_to_string(toks, ' ')] END AS sh
        FROM t
    )
    SELECT doc_id,
           len(sh)::BIGINT AS n_grams,
           len(list_distinct(sh))::BIGINT AS n_distinct,
           1.0 - len(list_distinct(sh))::DOUBLE / len(sh) AS rep_ratio
    FROM s
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Repetition-based quality signal (the Gopher-style repeated
    n-gram fraction): 1 - distinct/total 3-gram shingles per doc —
    boilerplate and spam score high. Pure map-side HOFs, zero
    shuffle."""
    from pandas_spark.operators.text import shingles_expr, spread

    docs = _docs(spark, sf_dir)
    sh = shingles_expr(F.col("text"), 3)
    out = spread(docs.spark).select(
        "doc_id",
        F.size(sh).cast("bigint").alias("n_grams"),
        F.size(F.array_distinct(sh)).cast("bigint").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(sh)).cast("double") / F.size(sh).cast("double")
        ).alias("rep_ratio"),
    )
    return out


@query(
    "mixture_summary",
    oracle=f"""
    WITH t AS (
        SELECT source, lang, len({_TOKS}) AS n_toks, length(text) AS n_chars
        FROM documents
    )
    SELECT source, lang,
           count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS n_tokens,
           sum(n_chars)::BIGINT AS total_chars,
           sum(n_toks)::DOUBLE / (SELECT sum(n_toks) FROM t) AS token_share
    FROM t GROUP BY source, lang
    """,
)
def mixture_summary(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Training-mixture report: docs/tokens/chars and token share per
    (source, language) — the table every pre-training data card
    publishes. One groupBy; the global total rides a window over the
    aggregated (small) result, not the corpus."""
    from pyspark.sql import Window as W

    from pandas_spark.operators.text import token_count_expr

    docs = _docs(spark, sf_dir)
    per = (
        docs.spark.select(
            "source", "lang",
            token_count_expr(F.col("text")).alias("__t__"),
            F.length("text").alias("__c__"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__t__").cast("bigint").alias("n_tokens"),
            F.sum("__c__").cast("bigint").alias("total_chars"),
        )
    )
    total = F.sum("n_tokens").over(W.partitionBy())
    return per.withColumn("token_share", F.col("n_tokens").cast("double") / total)


@query(
    "adaptive_length_filter",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(length(text), 0.05) AS lo,
               quantile_cont(length(text), 0.95) AS hi
        FROM documents
    )
    SELECT d.doc_id, length(d.text)::BIGINT AS n_chars
    FROM documents d, b
    WHERE length(d.text) BETWEEN b.lo AND b.hi
    """,
)
def adaptive_length_filter(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Outlier trimming with DATA-DERIVED cutoffs (p5/p95 of doc
    length): the thresholds aggregate to one row that broadcast-joins
    back into the filter — two passes over the corpus, no collect, no
    hand-tuned constants going stale as the corpus shifts."""
    docs = _docs(spark, sf_dir)
    sized = docs.spark.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
    bounds = sized.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        sized.crossJoin(F.broadcast(bounds))
        .filter(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# corpus scrubbing: PII redaction + line-level boilerplate removal
# ---------------------------------------------------------------------------

# synthetic PII suffix built identically on both sides (the driver's
# documents table carries no PII); redaction SQL is generated from the
# same PII_PATTERNS list the Spark expression chain uses — no drift.
_PII_AUG_SQL = (
    "text || ' contact u' || doc_id || '@mail.example.org or 10.0.' "
    "|| (doc_id % 200) || '.7 call 555-010-' "
    "|| lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)
_PII_REDACT_SQL = _PII_AUG_SQL
for _pat, _repl in text.PII_PATTERNS:
    _PII_REDACT_SQL = f"regexp_replace({_PII_REDACT_SQL}, '{_pat}', '{_repl}', 'g')"


@query(
    "text_pii_redact",
    oracle=f"SELECT doc_id, {_PII_REDACT_SQL} AS text FROM documents",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Regex PII scrub (emails / IPv4 / phone numbers) — map-only
    regexp_replace chain (text.py redact_pii_expr), zero shuffle; the
    entry appends deterministic synthetic PII so the redaction is
    observable against the oracle."""
    docs = _docs(spark, sf_dir)
    aug = docs.spark.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.org or 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 call 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return text.redact_pii(DataFrame(aug)).to_spark()


_BOILER_ORACLE = """
WITH aug AS (
    SELECT doc_id,
           'NAV: site menu ' || source || chr(10) || text || chr(10)
           || 'Copyright 2024 Example Corp' AS text
    FROM documents
),
lines AS (
    SELECT doc_id,
           unnest(string_split(text, chr(10))) AS line,
           unnest(range(len(string_split(text, chr(10))))) AS pos
    FROM aug
),
common AS (
    SELECT line FROM lines WHERE trim(line) <> ''
    GROUP BY line HAVING count(DISTINCT doc_id) >= 10
),
kept AS (
    SELECT * FROM lines WHERE line NOT IN (SELECT line FROM common)
)
SELECT a.doc_id, coalesce(k.text, '') AS text
FROM aug a LEFT JOIN (
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM kept GROUP BY doc_id
) k USING (doc_id)
"""


@query("boilerplate_line_dedup", oracle=_BOILER_ORACLE)
def boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> SparkDF:
    """CCNet/RefinedWeb-style line-level boilerplate removal: lines
    occurring in >= 10 distinct documents (here a synthetic per-source
    nav header + a global copyright footer wrapped around every doc)
    are deleted corpus-wide, preserving the remaining line order. One
    groupBy on line text + one anti-join + one per-doc rebuild."""
    docs = _docs(spark, sf_dir)
    aug = docs.spark.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("NAV: site menu "), F.col("source")),
            F.col("text"),
            F.lit("Copyright 2024 Example Corp"),
        ).alias("text"),
    )
    out = text.strip_boilerplate_lines(
        DataFrame(aug), text_col="text", id_col="doc_id", min_docs=10
    )
    return out.to_spark()


# ---------------------------------------------------------------------------
# training-sequence packing + RAG chunking
# ---------------------------------------------------------------------------

@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len({_TOKS}) AS nt FROM documents
    ),
    o AS (
        SELECT doc_id, doc_id % 8 AS shard, nt,
               coalesce(sum(nt) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM t
    )
    SELECT doc_id, shard::BIGINT AS shard, (off // 2048)::BIGINT AS seq_id,
           (off % 2048)::BIGINT AS offset_in_seq,
           (off % 2048) + nt > 2048 AS spans_boundary
    FROM o
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> SparkDF:
    """GPT-style sequence packing (docs concatenated in id order per
    shard, sliced into 2048-token windows): placement = one window
    cumsum per shard, fully deterministic, no driver state. Shards pack
    independently, so parallelism is n_shards — raised to O(cores) at
    cluster scale."""
    docs = _docs(spark, sf_dir)
    sized = DataFrame(
        docs.spark.select(
            "doc_id", text.token_count_expr(F.col("text")).alias("nt")
        )
    )
    return text.pack_sequences(
        sized, "nt", id_col="doc_id", seq_len=2048, n_shards=8
    ).to_spark()


@query(
    "chunk_documents",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(range(0, greatest(len(toks), 1), 48)) AS st
        FROM t
    )
    SELECT doc_id, (st // 48)::BIGINT AS chunk_id, st::BIGINT AS start_tok,
           array_to_string(toks[st+1 : st+64], ' ') AS chunk_text,
           least(len(toks) - st, 64)::BIGINT AS n_tokens
    FROM s
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Overlapping token-window chunking (chunk_size=64, overlap=16 —
    the embedding-index/RAG preparation stage): tokenize + sequence +
    slice HOFs then one explode; map-only, zero shuffle."""
    docs = _docs(spark, sf_dir)
    return text.chunk_documents(
        docs, "text", "doc_id", chunk_size=64, overlap=16
    ).to_spark()


# ---------------------------------------------------------------------------
# corpus quality / curation (round 4)
# ---------------------------------------------------------------------------

_EN_SW = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])

@query(
    "text_gopher_rules",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id,
               text,
               list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS words,
               list_filter(regexp_split_to_array(text, '\n'), l -> trim(l) != '') AS lines,
               {_TOKS} AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id,
            len(words) AS n_words,
            list_sum(list_transform(words, x -> len(x))) / greatest(len(words), 1) AS mean_word_len,
            (len(text) - len(regexp_replace(text, '#', '', 'g'))
             + (len(text) - len(replace(text, '...', ''))) / 3.0) / greatest(len(words), 1) AS symbol_ratio,
            len(list_filter(lines, l -> starts_with(ltrim(l), '-')
                OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•')))
              / greatest(len(lines), 1) AS bullet_frac,
            len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
              / greatest(len(lines), 1) AS ellipsis_frac,
            len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
              / greatest(len(words), 1) AS alpha_frac,
            len(list_intersect(toks, [{_EN_SW}])) AS stop_hits
        FROM w
    )
    SELECT *,
           (n_words BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3 AND 10)
           AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
           AND alpha_frac >= 0.8 AND stop_hits >= 1 AS gopher_keep
    FROM s
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Gopher-style quality-rule signals per document (map-only
    Catalyst HOFs; the oracle states the identical formulas in SQL)."""
    docs = _docs(spark, sf_dir)
    return text.gopher_rules(
        docs, "text", min_words=30, min_stop_hits=1
    ).to_spark().select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio", "bullet_frac",
        "ellipsis_frac", "alpha_frac", "stop_hits", "gopher_keep",
    )


@query(
    "corpus_duplication_profile",
    oracle=r"""
    SELECT cluster_size, count(*) AS clusters, sum(cluster_size) AS docs FROM (
        SELECT count(*) AS cluster_size
        FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')))
    ) GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def corpus_duplication_profile(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Exact-duplicate cluster-size histogram — the diagnostic that
    decides whether a dedup pass pays for itself."""
    docs = _docs(spark, sf_dir)
    return text.duplication_profile(docs, "text", "doc_id").to_spark()


@query(
    "semantic_dedup",
    oracle="""
    SELECT count(*)::BIGINT AS total_rows, 0::BIGINT AS invalid_drops,
           true AS recall_ge_60, true AS consistent
    FROM embeddings
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SemDeDup (cluster-then-dedup over embeddings) checked with the
    recall-assertion oracle pattern (VERDICT round-1): every dropped id
    must have an exact global near-dup partner with a smaller id
    (soundness — trivially true because in-cluster pairs are
    exact-verified, asserted anyway), and the dropped count must reach
    ≥60% of the exact droppable set (recall of the cluster blocking;
    measured 0.87 at (k_cells=8, nprobe=2) on this corpus — the
    pipeline is deterministic, so this is a constant)."""
    emb = _emb(spark, sf_dir)
    pairs = similarity.semantic_dedup_pairs(
        emb, threshold=0.4, k_cells=8, nprobe=2, seed=42
    ).spark
    drops = pairs.select(F.col("id2").alias("vec_id")).distinct()
    e1 = emb.spark.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("__v1__"))
    e2 = emb.spark.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("__v2__"))
    exact_drops = (
        e1.crossJoin(e2)
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cos", similarity.pair_cosine_col(F.col("__v1__"), F.col("__v2__")))
        .filter(F.col("cos") >= 0.4)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
    )
    kept = similarity.semantic_dedup(
        emb, threshold=0.4, k_cells=8, nprobe=2, seed=42
    ).spark
    n_total = emb.spark.count()
    n_drops = drops.count()
    n_exact = exact_drops.count()
    n_invalid = drops.join(exact_drops, "vec_id", "left_anti").count()
    n_kept = kept.count()
    return spark.createDataFrame(
        [(n_total, n_invalid, n_drops >= 0.6 * n_exact, n_kept + n_drops == n_total)],
        "total_rows long, invalid_drops long, recall_ge_60 boolean, consistent boolean",
    )


@query(
    "rebalance_mixture",
    oracle="""
    WITH c AS (
        SELECT source, count(*)::DOUBLE AS n,
               CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
                           WHEN 'src2' THEN 0.25 END AS tgt
        FROM documents WHERE source IN ('src0', 'src1', 'src2')
        GROUP BY source
    ),
    norm AS (
        SELECT source, n, tgt / (SELECT sum(tgt) FROM c) AS ps FROM c
    ),
    thr AS (
        SELECT source,
               floor(least(1.0, ps * (SELECT min(n / ps) FROM norm) / n)
                     * 10000 + 0.5) AS t
        FROM norm
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE ('0x' || substr(md5('bal1' || doc_id::VARCHAR), 1, 8))::UBIGINT % 10000 < t
    """,
)
def rebalance_mixture(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Down-sample-only mixture rebalancing to target source shares
    (text.rebalance_mixture): the binding source keeps everything,
    the rest hash-downsample to p_s·T/n_s — deterministic, map-only,
    oracle recomputes the identical rates and md5 rule in SQL."""
    docs = _docs(spark, sf_dir)
    sub = DataFrame(docs.spark.filter(F.col("source").isin("src0", "src1", "src2")))
    out = text.rebalance_mixture(
        sub, {"src0": 0.5, "src1": 0.25, "src2": 0.25}, seed="bal1"
    )
    return out.spark.select("doc_id", "source")


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM pairs GROUP BY doc_id, term
    ),
    dft AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
    SELECT doc_id, term, tf, tfidf FROM (
        SELECT tf.doc_id, tf.term, tf.tf,
               tf.tf * (ln((1.0 + n.nd) / (1.0 + dft.df)) + 1.0) AS tfidf,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * (ln((1.0 + n.nd) / (1.0 + dft.df)) + 1.0) DESC,
                                           tf.term) AS rn
        FROM tf JOIN dft USING (term), n
    ) WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-document top-3 TF-IDF keywords (sklearn smooth-idf formula):
    explode -> one (doc,term) shuffle -> vocab-sized df shuffle ->
    per-doc window. See operators/text.py tfidf_top_terms."""
    docs = _docs(spark, sf_dir)
    return text.tfidf_top_terms(docs, k=3).select(
        ["doc_id", "term", "tf", "tfidf"]
    ).to_spark()


# --- Gopher repetition signals (text.repetition_signals) -------------------

def _rep_oracle_sql() -> str:
    """DuckDB mirror of text.repetition_signals' documented conventions:
    per-doc unit (line/para) duplication fractions via unnest→count,
    n-gram top/dup char fractions via unnest→count with the same
    (count, count·len) tie rule and the same least(·,1.0) caps."""
    th = text.GOPHER_REP_THRESHOLDS
    unit_ctes, unit_joins, unit_cols, keeps = [], [], [], []
    for name, pat in (("line", r"\n"), ("para", r"\n{2,}")):
        unit_ctes.append(f"""
u_{name} AS (
    SELECT doc_id, u FROM base,
    UNNEST(list_filter(list_transform(string_split_regex(text, '{pat}'),
                                      x -> trim(x)), x -> x <> '')) AS t(u)
),
c_{name} AS (
    SELECT doc_id, count(*) AS c, length(u) AS l
    FROM u_{name} GROUP BY doc_id, u
),
a_{name} AS (
    SELECT doc_id,
           sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE
             / greatest(sum(c), 1) AS dup_{name}_frac,
           sum(CASE WHEN c > 1 THEN c * l ELSE 0 END)::DOUBLE
             / greatest(sum(c * l), 1) AS dup_{name}_char_frac
    FROM c_{name} GROUP BY doc_id
)""")
        unit_joins.append(f"LEFT JOIN a_{name} USING (doc_id)")
        unit_cols += [
            f"coalesce(dup_{name}_frac, 0.0) AS dup_{name}_frac",
            f"coalesce(dup_{name}_char_frac, 0.0) AS dup_{name}_char_frac",
        ]
        keeps += [
            f"coalesce(dup_{name}_frac, 0.0) <= {th[f'dup_{name}_frac']}",
            f"coalesce(dup_{name}_char_frac, 0.0) <= {th[f'dup_{name}_char_frac']}",
        ]
    gram_ctes, gram_joins, gram_cols = [], [], []
    for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
        gram_ctes.append(f"""
g_{n} AS (
    SELECT doc_id, any_value(tlen) AS tlen,
           count(*) AS c, length(g) AS l,
           FROM (SELECT doc_id, tlen,
                        array_to_string(ws[i:i+{n - 1}], ' ') AS g
                 FROM base, UNNEST(generate_series(1, len(ws) - {n - 1})) AS t(i))
    GROUP BY doc_id, g
),
a_{n} AS (
    SELECT doc_id,
           least(coalesce(max(c * l) FILTER (WHERE c = mc AND c > 1), 0)::DOUBLE
                 / any_value(tlen), 1.0) AS top_{n}gram_char_frac,
           least(sum(CASE WHEN c > 1 THEN c * l ELSE 0 END)::DOUBLE
                 / any_value(tlen), 1.0) AS dup_{n}gram_char_frac
    FROM (SELECT *, max(c) OVER (PARTITION BY doc_id) AS mc FROM g_{n})
    GROUP BY doc_id
)""")
        gram_joins.append(f"LEFT JOIN a_{n} USING (doc_id)")
    for n in (2, 3, 4):
        gram_cols.append(
            f"coalesce(top_{n}gram_char_frac, 0.0) AS top_{n}gram_char_frac")
        keeps.append(
            f"coalesce(top_{n}gram_char_frac, 0.0) <= {th['top_ngram_char_frac'][n]}")
    for n in (5, 6, 7, 8, 9, 10):
        gram_cols.append(
            f"coalesce(dup_{n}gram_char_frac, 0.0) AS dup_{n}gram_char_frac")
        keeps.append(
            f"coalesce(dup_{n}gram_char_frac, 0.0) <= {th['dup_ngram_char_frac'][n]}")
    return f"""
WITH base AS (
    SELECT doc_id, text,
           greatest(length(text), 1)::DOUBLE AS tlen,
           list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws
    FROM documents
),{",".join(unit_ctes)},{",".join(gram_ctes)}
SELECT doc_id,
       {", ".join(unit_cols)},
       {", ".join(gram_cols)},
       ({" AND ".join(keeps)}) AS repetition_keep
FROM base {" ".join(unit_joins)} {" ".join(gram_joins)}
"""


@query("text_repetition_gopher", oracle=_rep_oracle_sql())
def text_repetition_gopher(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Full Gopher repetition rule set (Rae et al. 2021 Table A1):
    duplicated line/paragraph unit+char fractions, top-{2,3,4}-gram
    char fraction, duplicated-{5..10}-gram char fraction, and the
    published-threshold keep flag. Map-only array-local folds — zero
    shuffles; the oracle recomputes every fraction via unnest+groupby."""
    docs = _docs(spark, sf_dir)
    sig = text.repetition_signals(docs)
    keep_cols = [c for c in sig.spark.columns
                 if c == "doc_id" or "frac" in c or c == "repetition_keep"]
    return sig.spark.select(*keep_cols)


# --- exact-substring (repeated window) dedup (dedup.remove_repeated_ngrams) -

def _exact_substr_ctes(w: int) -> str:
    """Shared oracle CTEs: corpus-duplicated w-token windows by content
    (the engine counts xxhash64 fingerprints — same multiset absent a
    2^-64 collision; the OUTPUT is hash-free either way)."""
    return f"""
base AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
    FROM documents
),
win AS (
    SELECT doc_id, i, array_to_string(ws[i:i+{w - 1}], ' ') AS g
    FROM base, UNNEST(generate_series(1, len(ws) - {w} + 1)) AS t(i)
),
dup AS (
    SELECT doc_id, i FROM (
        SELECT doc_id, i, count(*) OVER (PARTITION BY g) AS c FROM win
    ) WHERE c >= 2
)"""


_SPAN_W = 8

@query(
    "dedup_repeated_spans",
    oracle=f"""
WITH {_exact_substr_ctes(_SPAN_W)},
iv AS (SELECT doc_id, i AS s, i + {_SPAN_W - 1} AS e FROM dup),
mk AS (
    SELECT doc_id, s, e,
           CASE WHEN max(e) OVER prior IS NULL OR s > max(e) OVER prior + 1
                THEN 1 ELSE 0 END AS opens
    FROM iv
    WINDOW prior AS (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sg AS (
    SELECT doc_id, s, e,
           sum(opens) OVER (PARTITION BY doc_id ORDER BY s, e) AS seg
    FROM mk
)
SELECT doc_id, min(s)::BIGINT AS span_start, max(e)::BIGINT AS span_end
FROM sg GROUP BY doc_id, seg
""",
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Merged token spans covered by corpus-duplicated 8-token windows
    (Lee et al. 2021 ExactSubstr, the span-report half). Narrow
    (hash,id,pos) shuffle + per-doc interval merge; the oracle
    re-derives spans from window CONTENT with a SQL interval merge."""
    docs = _docs(spark, sf_dir)
    out = dedup.repeated_ngram_spans(docs, window=_SPAN_W)
    return out.spark.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    )


@query(
    "dedup_exact_substring",
    oracle=f"""
WITH {_exact_substr_ctes(_SPAN_W)},
cover AS (
    SELECT DISTINCT doc_id, j
    FROM dup, UNNEST(generate_series(i, i + {_SPAN_W - 1})) AS t(j)
),
tok AS (
    SELECT doc_id, j, ws[j] AS w
    FROM base, UNNEST(generate_series(1, len(ws))) AS t(j)
),
kept AS (
    SELECT t.doc_id,
           string_agg(t.w, ' ' ORDER BY t.j) FILTER (WHERE c.j IS NULL) AS text
    FROM tok t LEFT JOIN cover c ON t.doc_id = c.doc_id AND t.j = c.j
    GROUP BY t.doc_id
)
SELECT d.doc_id, coalesce(k.text, '') AS text
FROM documents d LEFT JOIN kept k USING (doc_id)
""",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ExactSubstr dedup output: every token covered by a
    corpus-duplicated 8-token window dropped from every copy, text
    reconstructed in token space. The corpus text crosses the wire
    once (the span join); token removal is an indexed array filter."""
    docs = _docs(spark, sf_dir)
    out = dedup.remove_repeated_ngrams(docs, window=_SPAN_W)
    return out.spark.select("doc_id", "text")


@query(
    "sim_topk_pq",
    oracle="""
    SELECT vec_id AS query_id, 10::BIGINT AS found_k, TRUE AS recall_ge_60
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Product-quantization ANN (Jégou et al. 2011) checked by a recall
    oracle, same pattern as sim_topk_ivf: ADC over 16×16 codebooks
    (16 bytes/vector vs 256 — the 100 TB memory story) builds a
    50-deep shortlist, exact cosine reranks it; recall@10 vs the
    brute-force answer clears 0.6 (measured 0.94 — deterministic:
    seeded kmeans++, hash-ordered sample, stable argmin)."""
    emb = _emb(spark, sf_dir)
    nrm = similarity.norm_expr(F.col("embedding"))
    # normalize with the norm evaluated ONCE per row (array_repeat's
    # argument), not once per ELEMENT: `transform(v, x -> x / nrm)`
    # re-evaluates the O(dim) aggregate inside the lambda for every
    # element (O(dim^2) interpreted work per row - higher-order
    # functions are CodegenFallback), and ConvertToLocalRelation
    # re-runs that projection DRIVER-SIDE at every action's
    # re-optimization for this LocalRelation-sized table. Same
    # division ops, bit-identical output (probed cell-for-cell).
    nemb = DataFrame(
        emb.spark.select(
            "vec_id",
            F.zip_with(
                F.col("embedding"),
                F.array_repeat(nrm, F.size(F.col("embedding"))),
                lambda x, n: x / n,
            ).alias("embedding"),
        )
    )
    queries = DataFrame(
        nemb.spark.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    cb = similarity.pq_train(
        nemb, m=16, ksub=16, sample_n=4096, iters=8, seed=42
    )
    pq = similarity.pq_topk_rerank(
        nemb, queries, cb, k=10, shortlist=50
    ).spark.select("query_id", "vec_id")
    exact = similarity.cosine_topk(
        nemb, queries, k=10, id_col="vec_id", vec_col="embedding"
    ).spark.select("query_id", "vec_id")
    hits = pq.join(exact, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__hits__")
    )
    return (
        pq.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("found_k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "found_k",
            (F.coalesce(F.col("__hits__"), F.lit(0)) >= F.lit(6)).alias("recall_ge_60"),
        )
        .orderBy("query_id")
    )


@query(
    "sim_topk_ivfpq",
    oracle="""
    SELECT vec_id AS query_id, 10::BIGINT AS found_k, TRUE AS recall_ge_60
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
    """,
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> SparkDF:
    """IVF-PQ composition (FAISS IVFx,PQy family) under the recall-
    oracle pattern: probed cells bound WHICH rows a query touches, PQ
    codes bound what each row costs (the searched index carries no raw
    vectors), exact rerank over the 50-deep shortlist. recall@10 vs
    brute force clears 0.6 (measured 0.86, deterministic)."""
    emb = _emb(spark, sf_dir)
    nrm = similarity.norm_expr(F.col("embedding"))
    # normalize with the norm evaluated ONCE per row (array_repeat's
    # argument), not once per ELEMENT: `transform(v, x -> x / nrm)`
    # re-evaluates the O(dim) aggregate inside the lambda for every
    # element (O(dim^2) interpreted work per row - higher-order
    # functions are CodegenFallback), and ConvertToLocalRelation
    # re-runs that projection DRIVER-SIDE at every action's
    # re-optimization for this LocalRelation-sized table. Same
    # division ops, bit-identical output (probed cell-for-cell).
    nemb = DataFrame(
        emb.spark.select(
            "vec_id",
            F.zip_with(
                F.col("embedding"),
                F.array_repeat(nrm, F.size(F.col("embedding"))),
                lambda x, n: x / n,
            ).alias("embedding"),
        )
    )
    queries = DataFrame(
        nemb.spark.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    got = similarity.ivfpq_topk(
        nemb, queries, k=10, k_cells=8, nprobe=6, m=16, ksub=16,
        shortlist=50, sample_n=4096, iters=8, seed=42,
    ).spark.select("query_id", "vec_id")
    exact = similarity.cosine_topk(
        nemb, queries, k=10, id_col="vec_id", vec_col="embedding"
    ).spark.select("query_id", "vec_id")
    hits = got.join(exact, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__hits__")
    )
    return (
        got.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("found_k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "found_k",
            (F.coalesce(F.col("__hits__"), F.lit(0)) >= F.lit(6)).alias("recall_ge_60"),
        )
        .orderBy("query_id")
    )


@query(
    "streaming_quality_filter",
    oracle=f"""
    SELECT doc_id FROM ({_rep_oracle_sql()}) WHERE repetition_keep
    """,
)
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Quality filtering as a STREAM: the Gopher repetition rules are
    stateless map-only signals, so the same repetition_signals plan
    (Arrow kernel included) runs unchanged under Structured Streaming —
    ingest-time corpus curation. Batch-parity is exact: the oracle is
    the identical repetition SQL restricted to kept docs."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/documents.parquet")
    flagged = text.repetition_signals(DataFrame(stream)).spark
    kept = flagged.filter(F.col("repetition_keep")).select("doc_id")
    pss.run_to_memory(kept, "suite_stream_quality")
    return spark.table("suite_stream_quality")


_KM_ITER = """
, m{n} AS (
    SELECT a{p}.cell, g.i AS pos, avg(a{p}.e[g.i]) AS m
    FROM a{p}, generate_series(1, 64) g(i)
    GROUP BY 1, 2
), c{n} AS (
    SELECT c{p}.cell, COALESCE(nn.e, c{p}.e) AS e
    FROM c{p} LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS e FROM m{n} GROUP BY cell
    ) nn USING (cell)
), a{n} AS (
    SELECT vv.vec_id, vv.e,
           (SELECT c.cell FROM c{n} c
            ORDER BY list_distance(vv.e, c.e) ASC, c.cell ASC LIMIT 1) AS cell
    FROM v vv
)
"""


@query(
    "cluster_kmeans",
    oracle=(
        """
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
        FROM v ORDER BY vec_id LIMIT 8
    ), a0 AS (
        SELECT vv.vec_id, vv.e,
               (SELECT c.cell FROM c0 c
                ORDER BY list_distance(vv.e, c.e) ASC, c.cell ASC LIMIT 1) AS cell
        FROM v vv
    )
    """
        + _KM_ITER.format(n=1, p=0)
        + _KM_ITER.format(n=2, p=1)
        + "SELECT vec_id, cell FROM a2"
    ),
)
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Distributed Lloyd's k-means (operators/clustering.py): two full
    assign+recompute passes over the corpus, k=8, seeded by the 8
    smallest vec_ids. Assignment is a pure Catalyst literal fold
    (argmax of x·c − ||c||²/2); recompute is one zero-copy mapInArrow
    partial-sum pass per iteration with a bounded (batches·k·dim)
    driver combine in deterministic order. The oracle unrolls BOTH
    Lloyd iterations in SQL (per-position averages via
    generate_series, empty cells keep their centroid)."""
    from pandas_spark.operators.clustering import kmeans_assign

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    out = kmeans_assign(emb, k=8, iters=2)
    return out.select(["vec_id", "cell"]).to_spark()


@query(
    "multimodal_decode_ppm",
    oracle="""
    SELECT doc_id AS id,
           8                                       AS width,
           4                                       AS height,
           (length(text) % 96 + 32)::DOUBLE        AS r_mean
    FROM documents
    """,
)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> SparkDF:
    """REAL image decode end-to-end (r9): synthesize a valid binary P6
    PPM per document JVM-side (header + 8x4 pixels of one byte value
    derived from the text — kept in the single-byte UTF-8 range so
    encode() is exact), decode it with the pure-numpy PPM codec inside
    Arrow-batched mapInPandas, and report dims + red-channel mean the
    oracle derives independently from the construction."""
    docs = _docs(spark, sf_dir)
    b = F.pmod(F.length(F.col("text")), F.lit(96)) + F.lit(32)
    payload = F.concat(
        F.encode(F.lit("P6\n8 4 255\n"), "utf-8"),
        F.encode(F.repeat(F.char(b), 8 * 4 * 3), "utf-8"),
    )
    framed = DataFrame(docs.spark.withColumn("payload", payload))
    return multimodal.decode_image_stats(framed, id_col="doc_id").to_spark()

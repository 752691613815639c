"""Text-analysis operators for large-scale training-data pipelines.

Beyond the pandas reference (which has no corpus operators): language
identification, quality scoring, token counting, and document
fingerprinting over a ``documents(doc_id, text, ...)`` table. All hot
paths are built-in Catalyst expressions (split / regexp / array HOFs /
xxhash64) — JVM-side, codegen'd, no Python in the loop — so the same
plan runs map-only over 100 TB of parquet with zero shuffles.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pandas_spark import fshim as F  # backtick-safe F.col facade
from pandas_spark._exprmemo import memo_column
from pandas_spark.dtypes import qi

from pandas_spark.frame import DataFrame

# Small public stopword sets (top function words per language) for the
# n-gram/stopword-overlap language heuristic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "was", "for",
           "on", "are", "with", "as", "be", "at", "by", "this", "have", "from"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "im",
           "für", "auf", "ein", "eine", "nicht", "sich", "auch", "als", "es", "dem"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "un", "une", "du",
           "dans", "que", "qui", "pour", "sur", "pas", "au", "avec", "ce", "il"],
    "es": ["el", "la", "los", "las", "de", "y", "es", "en", "un", "una",
           "del", "que", "por", "con", "para", "se", "su", "al", "lo", "como"],
}


def spread(sdf, min_parallelism: int | None = None):
    """Repartition iff the scan produced fewer partitions than cores.

    Small single-file inputs arrive as one partition, serializing every
    map-heavy text expression onto one core; a round-robin repartition
    costs one cheap shuffle of the raw rows. At production scale (many
    files / splits) this is a no-op.
    """
    spark = sdf.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    # inputFiles() is metadata-only (no RDD materialization):
    # few source files ⇒ few scan partitions ⇒ spread; many files ⇒ no-op
    try:
        n_files = len(sdf.inputFiles())
    except Exception:
        n_files = target
    if 0 < n_files < target:
        return sdf.repartition(target)
    return sdf


def normalize_expr(text: Column) -> Column:
    """Lowercase + collapse non-alphanumerics to single spaces."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^\p{L}\p{N}]+", " "))


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_expr(text), " ")


def token_count_expr(text: Column, toks: Column | None = None) -> Column:
    return F.size(toks if toks is not None else tokens_expr(text))


def shingles_expr(text: Column, n: int = 5) -> Column:
    """Word n-gram shingles (array<string>) — the near-dup unit."""
    toks = tokens_expr(text)
    k = F.size(toks)
    return F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(0), k - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


_ASCII_ALPHA = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_JAVA_WS = " \t\n\x0b\x0c\r"  # exactly the java regex \s class


def _packed_hits_expr(toks: Column, lang_a: str, lang_b: str) -> Column:
    """Hit counts for TWO languages in ONE fold, packed into a bigint
    (lang_a in the low 32 bits, lang_b shifted high — counts are
    per-document token counts, nowhere near 2^32, so the fields can't
    carry into each other). Halves the token-array traversals of the
    per-language fold, and the length gate short-circuits all 40
    string compares for any token longer than the longest stopword
    (measured 10.8 -> 9.0 s for the 4-language block at the 1000x
    decade). Unpack with ``bitwiseAND(0xFFFFFFFF)`` / ``shiftright(32)``."""
    sw_a = F.array(*[F.lit(w) for w in STOPWORDS[lang_a]])
    sw_b = F.array(*[F.lit(w) for w in STOPWORDS[lang_b]])
    max_len = max(len(w) for w in STOPWORDS[lang_a] + STOPWORDS[lang_b])
    zero = F.lit(0).cast("bigint")
    return F.aggregate(
        toks,
        zero,
        lambda acc, x: acc
        + F.when(
            F.length(x) <= max_len,
            F.when(F.array_contains(sw_a, x), F.lit(1).cast("bigint")).otherwise(zero)
            + F.when(F.array_contains(sw_b, x), F.lit(4294967296)).otherwise(zero),
        ).otherwise(zero),
    )


def add_text_stats(frame: DataFrame, text_col: str = "text") -> DataFrame:
    """All text-analysis columns, map-only.

    Allocation discipline for the GC-bound giant-corpus regime (the
    1000×-decade tail diagnosed in SCALE.md):

    * normalized text + token array materialized ONCE in a lower
      projection, shared by every statistic (Catalyst keeps the
      projections separate for multiply-referenced expensive columns —
      CollapseProject's duplication guard)
    * per-language stopword hit counts computed ONCE each as int-fold
      ``aggregate`` (no filtered-array allocation); en-hits feed
      stopword_ratio, quality, AND the en lang score — previously three
      independent ``size(filter(...))`` passes
    * counting regexes use ``regexp_count`` — the old
      ``size(regexp_extract_all(...))`` BPE count materialized every
      match (~len/3 small strings per document) just to take the
      length, and alpha_ratio built a full stripped copy of the text
    """
    langs = list(STOPWORDS)

    # Every expression below is STATIC per text_col — memoized as
    # Column handles so repeated builds (the per-run plan construction
    # of a long-lived service, and every timed bench run) skip the
    # ~500 py4j round trips of re-building identical subtrees
    # (guide §1.2 fixed-cost floor; see _exprmemo).
    def _mid_cols():
        toks = F.col("__toks__")
        return {
            "__ntok__": F.size(toks),
            "__pk0__": _packed_hits_expr(toks, langs[0], langs[1]),
            "__pk1__": _packed_hits_expr(toks, langs[2], langs[3]),
        }

    def _unpack_cols():
        return {
            f"__hits_{langs[0]}__": F.col("__pk0__").bitwiseAND(F.lit(4294967295)).cast("int"),
            f"__hits_{langs[1]}__": F.shiftright(F.col("__pk0__"), 32).cast("int"),
            f"__hits_{langs[2]}__": F.col("__pk1__").bitwiseAND(F.lit(4294967295)).cast("int"),
            f"__hits_{langs[3]}__": F.shiftright(F.col("__pk1__"), 32).cast("int"),
        }

    def _out_cols():
        t = F.col(text_col)
        ntok = F.col("__ntok__")
        n1 = F.greatest(ntok, F.lit(1))
        n_chars = F.length(t)
        # ASCII-letter count by translate-delete — identical values to
        # the regexp_count('[A-Za-z]') form but a plain char-map pass
        # instead of a regex scan (4.8 -> 1.9 s at the 1000x decade);
        # shared by alpha_ratio and the BPE decomposition below
        n_alpha = n_chars - F.length(F.translate(t, _ASCII_ALPHA, ""))
        n_ws = n_chars - F.length(F.translate(t, _JAVA_WS, ""))
        alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
        mean_word_len = n_chars / n1
        sw_ratio = F.col("__hits_en__") / n1
        len_ok = (ntok >= 10) & (ntok <= 100000)
        word_len_ok = (mean_word_len >= 3) & (mean_word_len <= 12)
        quality = (
            len_ok.cast("double") * 0.25
            + word_len_ok.cast("double") * 0.25
            + F.least(alpha_ratio * 0.5, F.lit(0.25)) * 2
            + F.least(sw_ratio * 2.5, F.lit(0.25))
        )
        pairs = F.array(
            *[
                F.struct((F.col(f"__hits_{lang}__") / n1).alias("s"), F.lit(lang).alias("l"))
                for lang in langs
            ]
        )
        best = F.array_max(pairs)  # struct compare: by s, then l
        lang_pred = F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))
        return {
            "n_tokens": ntok,
            # exact decomposition of regexp_count('[A-Za-z]{1,4}|[0-9]|
            # [^A-Za-z0-9\s]'): alpha runs split greedily into <=4-char
            # chunks (the remaining regex), every digit and every
            # non-alnum-non-ws char is one token each — and since both
            # groups count 1/char, they collapse to (n_chars - n_alpha
            # - n_ws). Dropping the 3-way alternation (a backtracking
            # attempt per char + a Matcher.find per punct/digit) took
            # the dominant text_stats component 51.5 -> 7.6 s at the
            # 1000x decade, value-identical (checked per-row on 5M docs)
            "n_tokens_bpe": F.regexp_count(t, F.lit(r"[A-Za-z]{1,4}"))
            + n_chars - n_alpha - n_ws,
            "stopword_ratio": sw_ratio,
            "lang_pred": lang_pred,
            "quality": quality,
            "fingerprint": F.xxhash64(F.col("__norm__")),
        }

    base = (
        spread(frame._sdf)
        .withColumn(
            "__norm__",
            memo_column(("ts_norm", text_col), lambda: normalize_expr(F.col(text_col))),
        )
        .withColumn(
            "__toks__",
            memo_column(("ts_toks",), lambda: F.split(F.col("__norm__"), " ")),
        )
    )
    # two packed folds instead of one fold per language (see
    # _packed_hits_expr); unpacked into the same __hits_<lang>__
    # columns the statistics below read
    mid = base.withColumns(
        memo_column(("ts_mid",) + tuple(langs), _mid_cols)
    ).withColumns(memo_column(("ts_unpack",) + tuple(langs), _unpack_cols))
    out = mid.withColumns(
        memo_column(("ts_out", text_col) + tuple(langs), _out_cols)
    ).drop(
        "__norm__", "__toks__", "__ntok__", "__pk0__", "__pk1__",
        *[f"__hits_{lang}__" for lang in langs],
    )
    return frame._with(out)


def hash_split_expr(id_col: Column, fractions: dict, seed: str = "") -> Column:
    """Deterministic dataset split label (train/val/test) from a hash
    of the row id — the standard practice for training-data pipelines
    at scale, where RNG splits are irreproducible across reruns,
    retries, and repartitioning.

    bucket = first 8 md5 hex digits of (seed || id) as an integer,
    mod 10_000; fraction boundaries partition the bucket space. Pure
    map-side expression (no shuffle, no RNG state); md5 rather than
    xxhash64 so the assignment is reproducible OUTSIDE Spark too (any
    system with md5 assigns identical rows to identical splits —
    including the DuckDB oracle).
    """
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit(seed), id_col.cast("string"))), 1, 8), 16, 10).cast(
        "bigint"
    ) % 10_000
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    expr = None
    lo = 0
    for name, frac in fractions.items():
        hi = lo + int(round(frac * 10_000))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return expr.otherwise(F.lit(None))


def hash_sample_expr(
    id_col: Column,
    strata_col: Column,
    fractions: dict,
    default_frac: float = 0.0,
    seed: str = "",
) -> Column:
    """Deterministic stratified-sampling keep-predicate: per-stratum
    downsampling rates applied by id-hash bucket (same md5 bucket
    space as ``hash_split_expr``). The workhorse for corpus mixing —
    e.g. keep 100% of rare languages, 10% of English crawl — where
    Spark's ``sampleBy`` (Bernoulli RNG) is irreproducible across
    reruns and retries. Map-only; reproducible in any md5-capable
    system (the oracle recomputes it row-for-row)."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), id_col.cast("string"))), 1, 8), 16, 10
    ).cast("bigint") % 10_000
    thr = None
    for stratum, frac in fractions.items():
        t = F.lit(int(round(frac * 10_000)))
        thr = F.when(strata_col == stratum, t) if thr is None else thr.when(strata_col == stratum, t)
    thr = thr.otherwise(F.lit(int(round(default_frac * 10_000))))
    return bucket < thr


def pack_sequences(
    frame: DataFrame,
    tokens_col: str,
    id_col: str = "doc_id",
    seq_len: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """GPT-style training sequence packing: documents are concatenated
    in id order and sliced into fixed ``seq_len``-token windows; each
    doc gets its (shard, seq_id, offset_in_seq) placement plus a
    ``spans_boundary`` flag (doc straddles two sequences — the consumer
    either splits it or inserts it into the next sequence).

    Deterministic and shuffle-minimal by design: docs hash to
    ``n_shards`` independent shards (id mod — reproducible in any
    engine), and the running token offset is ONE window cumsum per
    shard. Shard count bounds the window parallelism, so at cluster
    scale you raise ``n_shards`` to O(cores) and every shard packs
    independently — no global sequential pass, no driver state.
    """
    sdf = frame._sdf
    shard = (F.col(id_col) % F.lit(int(n_shards))).alias("shard")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    out = (
        sdf.select(F.col(id_col), shard, F.col(tokens_col).alias("__nt__"))
        .withColumn("__off__", F.coalesce(F.sum("__nt__").over(w), F.lit(0)))
        .select(
            id_col,
            "shard",
            F.floor(F.col("__off__") / F.lit(int(seq_len))).cast("long").alias("seq_id"),
            (F.col("__off__") % F.lit(int(seq_len))).cast("long").alias("offset_in_seq"),
            ((F.col("__off__") % F.lit(int(seq_len))) + F.col("__nt__") > F.lit(int(seq_len)))
            .alias("spans_boundary"),
        )
    )
    return DataFrame(out)


def chunk_documents(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the RAG /
    embedding-index preparation stage): chunk starts every
    ``chunk_size - overlap`` tokens; each chunk carries its id, start
    offset, text, and token count. Map-only (tokenize + sequence +
    slice HOFs, then one explode) — no shuffle, scales with the scan.
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap {overlap} must be < chunk_size {chunk_size}")
    step = chunk_size - overlap
    sdf = frame._sdf
    toks = tokens_expr(F.col(text_col))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - F.lit(1), F.lit(0)),
        F.lit(step),
    )
    out = (
        sdf.select(F.col(id_col), toks.alias("__toks__"), starts.alias("__starts__"))
        .select(
            id_col,
            F.posexplode("__starts__").alias("chunk_id", "__s__"),
            F.col("__toks__"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("__s__").cast("long").alias("start_tok"),
            F.array_join(
                F.slice(F.col("__toks__"), F.col("__s__") + 1, F.lit(int(chunk_size))), " "
            ).alias("chunk_text"),
            F.least(
                F.size("__toks__") - F.col("__s__"), F.lit(int(chunk_size))
            ).cast("long").alias("n_tokens"),
        )
    )
    return DataFrame(out)


# PII patterns kept to syntax both Java regex (Spark) and RE2 (DuckDB,
# re2 portability) accept: no lookaround, no backrefs. Order matters —
# emails carry dots and digits, so they redact before IPs/phones.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def redact_pii_expr(text: Column) -> Column:
    """Regex PII redaction (emails, IPv4, US-style phone numbers) as a
    chain of ``regexp_replace`` — map-only Catalyst, zero Python, zero
    shuffle: the standard pre-training scrub applied at ingest where it
    costs one pass over the bytes already being read."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_pii(frame: DataFrame, text_col: str = "text") -> DataFrame:
    return frame._with(
        frame._sdf.withColumn(text_col, redact_pii_expr(F.col(text_col)))
    )


def strip_boilerplate_lines(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 10,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet / RefinedWeb line
    dedup stage): delete every line whose exact text occurs in at least
    ``min_docs`` DISTINCT documents (navigation chrome, cookie banners,
    license footers), preserving remaining line order. Blank lines are
    never counted as boilerplate.

    Scale shape: explode to narrow (id, pos, line) rows; ONE groupBy on
    the line text counts distinct docs (partial aggregation map-side);
    the surviving-line join keys on the line text again — co-partitioned
    with the count shuffle under AQE; rebuild is one groupBy(id) with
    sort_array over (pos, line) structs. Documents whose every line was
    boilerplate survive with empty text (left join back on ids).
    """
    sdf = spread(frame._sdf)
    others = [c for c in sdf.columns if c != text_col]
    lines = sdf.select(
        *others,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos__", "__line__"),
    )
    common = (
        lines.filter(F.trim(F.col("__line__")) != "")
        .groupBy("__line__")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd__"))
        .filter(F.col("__nd__") >= F.lit(int(min_docs)))
        .select("__line__")
    )
    kept = lines.join(common, "__line__", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__pos__"), F.col("__line__")))
                ),
                lambda s: s["__line__"],
            ),
            "\n",
        ).alias(text_col)
    )
    base = sdf.drop(text_col)
    out = base.join(rebuilt, id_col, "left").withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    )
    return frame._with(out.select(*sdf.columns))


def contamination_ratios(corpus, bench, id_col="doc_id", text_col="text", shingle_n=8):
    """Benchmark decontamination: per-document n-gram overlap against a
    benchmark set (the standard pre-training hygiene stage — drop or
    flag training docs that share long n-grams with eval benchmarks).

    Scale shape: both sides reduce to DISTINCT shingle tokens; the
    benchmark side collapses to a deduplicated shingle set (benchmarks
    are small — thousands of docs — so Spark broadcasts the inner
    side of the match join); the corpus side explodes (id, shingle)
    narrow rows, inner-joins the benchmark set, and aggregates matched
    counts per doc. One shuffle of the corpus shingles; documents
    never ride the join. Returns (id, n_shingles, n_matched,
    contamination) with contamination = matched/total distinct
    shingles; unmatched docs report 0.0.
    """
    from pyspark.sql import functions as _F

    c_sdf = corpus.spark if hasattr(corpus, "spark") else corpus
    b_sdf = bench.spark if hasattr(bench, "spark") else bench
    c_sh = spread(c_sdf).select(
        _F.col(id_col),
        _F.explode(_F.array_distinct(shingles_expr(_F.col(text_col), shingle_n))).alias("__sh__"),
    )
    b_sh = b_sdf.select(
        _F.explode(_F.array_distinct(shingles_expr(_F.col(text_col), shingle_n))).alias("__sh__")
    ).distinct()
    totals = c_sh.groupBy(id_col).agg(_F.count("*").alias("n_shingles"))
    matched = (
        c_sh.join(b_sh, "__sh__")
        .groupBy(id_col)
        .agg(_F.count("*").alias("n_matched"))
    )
    out = (
        totals.join(matched, id_col, "left")
        .withColumn("n_matched", _F.coalesce("n_matched", _F.lit(0)))
        .withColumn(
            "contamination",
            _F.col("n_matched").cast("double") / _F.col("n_shingles").cast("double"),
        )
    )
    return out


def shuffle_rows(
    frame: DataFrame,
    id_col: str = "doc_id",
    seed: str | int = "",
    key_col: str | None = None,
) -> DataFrame:
    """Deterministic corpus shuffle — reproducible training-data order:
    global sort by ``md5(seed || id)``. The order is a pure function of
    (seed, id): the same on any cluster, any partitioning, any rerun —
    the property a resumable training run needs from its data order
    (an RNG shuffle is partitioning-dependent in Spark). Different
    ``seed`` → an independent order per epoch.

    Plan: ONE range exchange (Spark's distributed sort) — fully
    parallel, no single-task ordering step. Pass ``key_col`` to also
    materialize the shuffle key (e.g. to bucket the output into
    size-balanced shards with ``to_parquet(max_records_per_file=)``)."""
    key = F.md5(F.concat(F.lit(str(seed)), F.col(id_col).cast("string")))
    sdf = frame.spark
    if key_col:
        sdf = sdf.withColumn(key_col, key)
        return DataFrame(sdf.orderBy(F.col(key_col)))
    return DataFrame(sdf.orderBy(key))


def unigram_logprob(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alias: str = "logprob",
) -> DataFrame:
    """Corpus-relative unigram log-probability per document — the
    cheap, self-contained stand-in for the KenLM perplexity filter in
    CCNet-style pipelines (no external LM in this environment): score =
    mean over token occurrences of ln(count(token)/total_tokens) under
    the corpus' own unigram MLE. Unusually low scores mark gibberish,
    OCR noise, and boilerplate soups; unusually high ones mark
    repetitive/templated text. Filter on quantiles of this column.

    Two shuffles regardless of corpus size: token-count aggregation
    (vocabulary-sized output), then tokens⋈vocab + per-doc mean. The
    mean uses the order-independent fixed-point fold so the score is
    partitioning-stable (hash-gate safe). Docs with zero tokens emit
    no row (same rule as the SQL mirror)."""
    from pandas_spark.functions import stats

    toks = spread(frame.spark if hasattr(frame, "spark") else frame).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("__t__")
    ).filter(F.length("__t__") > 0)
    vocab = toks.groupBy("__t__").agg(F.count(F.lit(1)).alias("__c__"))
    total = vocab.agg(F.sum("__c__").alias("__n__"))
    scored = toks.join(vocab, "__t__").crossJoin(F.broadcast(total))
    out = scored.groupBy(id_col).agg(
        stats.exact_mean(
            F.log(F.col("__c__").cast("double") / F.col("__n__").cast("double"))
        ).alias(alias)
    )
    return DataFrame(out)


def neardup_contamination_pairs(
    corpus,
    bench,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    rows: int = 2,
    shingle_n: int = 5,
):
    """FUZZY benchmark decontamination, stage 1: (corpus_id, bench_id,
    jaccard) for every corpus/benchmark document pair with shingle
    Jaccard ≥ ``threshold``.

    ``contamination_ratios`` catches verbatim n-gram overlap; this
    catches the paraphrased/reformatted eval leakage that survives it
    (whitespace changes, shuffled fields, partial copies) — the same
    MinHash→LSH→exact-verify machinery as near-dup dedup
    (``operators/dedup.py minhash_dedup_pairs``), run across two
    corpora instead of within one.

    Mechanics: both sides get a side-tagged STRING id (``c:<id>`` /
    ``b:<id>`` — id spaces may overlap), union into one frame, one
    near-dup pair pass, then keep only cross-side pairs and strip the
    tags. The benchmark side is small by nature, so its rows add
    nothing to the one groupBy-(band,bucket) shuffle the pair pass
    costs; exact-duplicate collapse inside the pair pass means a
    benchmark doc cloned verbatim into the corpus is caught at
    jaccard 1.0 without ever reaching the LSH stage.
    """
    from pandas_spark.operators import dedup

    c_sdf = corpus.spark if hasattr(corpus, "spark") else corpus
    b_sdf = bench.spark if hasattr(bench, "spark") else bench
    id_type = c_sdf.schema[id_col].dataType
    b_id_type = b_sdf.schema[id_col].dataType
    tagged = (
        c_sdf.select(
            F.concat(F.lit("c:"), F.col(id_col).cast("string")).alias("__uid__"),
            F.col(text_col),
        )
        .unionByName(
            b_sdf.select(
                F.concat(F.lit("b:"), F.col(id_col).cast("string")).alias("__uid__"),
                F.col(text_col),
            )
        )
    )
    pairs = dedup.minhash_dedup_pairs(
        DataFrame(tagged),
        text_col,
        "__uid__",
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        rows=rows,
        shingle_n=shingle_n,
    ).spark
    # keep pairs with exactly one corpus-side member; ('b:' < 'c:', so
    # mixed pairs always arrive as id1=bench, id2=corpus — but match by
    # tag, not position, to stay robust to ordering changes)
    tag1 = F.substring("id1", 1, 2)
    tag2 = F.substring("id2", 1, 2)
    cross = pairs.filter(tag1 != tag2).select(
        F.when(tag1 == "c:", F.expr("substring(id1, 3)"))
        .otherwise(F.expr("substring(id2, 3)"))
        .cast(id_type)
        .alias("corpus_id"),
        F.when(tag1 == "b:", F.expr("substring(id1, 3)"))
        .otherwise(F.expr("substring(id2, 3)"))
        .cast(b_id_type)
        .alias("bench_id"),
        "jaccard",
    )
    return DataFrame(cross)


def neardup_contamination(
    corpus,
    bench,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kwargs,
):
    """Per-corpus-doc fuzzy contamination: (id, max_jaccard) for every
    corpus document near-duplicating ANY benchmark document at
    ``threshold``. One tiny groupBy over the (already small) verified
    pair set."""
    pairs = neardup_contamination_pairs(
        corpus, bench, id_col, text_col, threshold, **kwargs
    ).spark
    out = pairs.groupBy(F.col("corpus_id").alias(id_col)).agg(
        F.max("jaccard").alias("max_jaccard")
    )
    return DataFrame(out)


def decontaminate_neardup(
    corpus,
    bench,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kwargs,
):
    """Drop corpus documents that near-duplicate a benchmark document
    (fuzzy decontamination, the drop stage). The anti-join ships only
    contaminated ids; the corpus passes through untouched otherwise."""
    flagged = neardup_contamination(
        corpus, bench, id_col, text_col, threshold, **kwargs
    ).spark.select(id_col)
    c_sdf = corpus.spark if hasattr(corpus, "spark") else corpus
    return DataFrame(c_sdf.join(flagged, id_col, "left_anti"))


def gopher_rules(
    frame: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    lang: str = "en",
) -> DataFrame:
    """Gopher-style quality-rule signals (Rae et al. 2021 §A1.1, public
    heuristics; same family as the reference-free filters in Dolma/C4).

    Appends one column per rule signal plus a ``gopher_keep`` boolean:
    word count band, mean word length band, symbol-to-word ratio
    (``#`` and ``...``), bullet-started / ellipsis-ended line
    fractions, fraction of words with an alphabetic character, and
    distinct-stopword hits. Pure Catalyst expressions — map-only,
    zero shuffles, codegen'd; runs as a scan-side filter at any scale.
    """
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n_words_d = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = (
        F.aggregate(words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
        / n_words_d
    )
    n_hash = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_ratio = (n_hash + n_ell) / n_words_d
    lines = F.filter(F.split(t, r"\n"), lambda l: F.trim(l) != "")
    n_lines_d = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: F.ltrim(l).startswith("-")
                | F.ltrim(l).startswith("*")
                | F.ltrim(l).startswith("•"),
            )
        )
        / n_lines_d
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
        / n_lines_d
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words_d
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    stop_hits = F.size(F.array_intersect(tokens_expr(t), sw))
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_frac >= min_alpha_frac)
        & (stop_hits >= min_stop_hits)
    )
    out = frame.spark.select(
        "*",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("gopher_keep"),
    )
    return DataFrame(out)


def duplication_profile(
    frame: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus duplication histogram: exact-duplicate cluster size →
    (clusters, docs). The curation diagnostic that decides whether
    dedup is worth a pass — one groupBy on a 32-byte md5 of the
    normalized text, then a groupBy on the (tiny) size domain."""
    key = F.md5(normalize_expr(F.col(text_col)))
    sizes = frame.spark.groupBy(key.alias("__key__")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("clusters"),
            F.sum("cluster_size").alias("docs"),
        )
        .orderBy("cluster_size")
    )
    return DataFrame(out)


def rebalance_mixture(
    frame: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "",
) -> DataFrame:
    """Down-sample-only rebalancing of a corpus to target source
    shares (the mixture-adjustment step of training-data curation).

    With per-source counts n_s and normalized target shares p_s, the
    largest achievable total is T = min_s(n_s / p_s); each source
    keeps rate_s = p_s·T / n_s of its docs (the binding source keeps
    everything). Sources absent from ``targets`` are dropped. The
    keep-decision is the deterministic md5-bucket rule
    (``hash_sample_expr``) — reproducible across reruns/retries and
    recomputable row-for-row by any md5-capable oracle.

    Scale shape: one tiny groupBy(source) aggregate collected to the
    driver (bounded by the number of sources), then a map-only filter —
    the corpus itself never shuffles.
    """
    counts = {
        r[0]: float(r[1])
        for r in frame.spark.groupBy(source_col).count().collect()
        if r[0] in targets
    }
    if not counts:
        raise ValueError("rebalance_mixture: no rows match any target source")
    psum = sum(targets[s] for s in counts)
    shares = {s: targets[s] / psum for s in counts}
    T = min(counts[s] / shares[s] for s in counts)
    rates = {
        # half-up quantization to the 1/10000 bucket grid, mirrored
        # verbatim by SQL floor(x*10000 + 0.5) on the oracle side
        s: math.floor(min(1.0, shares[s] * T / counts[s]) * 10_000 + 0.5) / 10_000.0
        for s in counts
    }
    keep = hash_sample_expr(
        F.col(id_col), F.col(source_col), rates, default_frac=0.0, seed=seed
    )
    return DataFrame(frame.spark.filter(keep))


def tfidf_top_terms(
    frame: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the standard keyword/topic
    signal for corpus curation (near-dup triage, topic mixing,
    quality auditing). No pandas analog; the formula is sklearn's
    smooth-idf convention: tf · (ln((1+N)/(1+df)) + 1).

    100 TB plan shape: explode to a long (doc, term) table map-side,
    ONE shuffle for per-doc term counts, ONE vocabulary-sized shuffle
    for document frequencies (vocab ≪ corpus — it grows
    sub-linearly), a term-keyed join to attach idf, and a per-doc
    window for the top-k. The corpus text itself crosses the wire
    once, as (doc_id, term) pairs; N rides along as a broadcast
    scalar. Ties at the cut line break by term asc — deterministic
    under any partitioning.
    """
    from pyspark.sql import Window as W

    sdf = spread(frame._sdf)
    pairs = sdf.select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("term")
    )
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        df_t = df_t.filter(F.col("df") >= min_df)
    n_docs = sdf.select(F.count_distinct(F.col(id_col)).alias("__n__"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            (
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("__n__")) / (F.lit(1.0) + F.col("df")))
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    out = (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )
    return frame._with(out)


# ---------------------------------------------------------------------------
# Gopher repetition signals (Rae et al. 2021 §A1.1 Table A1 — the
# repetition half; the content-quality half is gopher_rules above)
# ---------------------------------------------------------------------------

# Gopher Table A1 thresholds (public values)
GOPHER_REP_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_ngram_char_frac": {2: 0.20, 3: 0.18, 4: 0.16},
    "dup_ngram_char_frac": {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10},
}


def _rep_col_names(top_ns, dup_ns) -> list[str]:
    return (
        ["dup_line_frac", "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac"]
        + [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
    )


# Java \s == [ \t\n\x0B\f\r]; Python re.ASCII \s is the identical set
# (\x0B is \v) — words split exactly like Spark's split(text, '\s+')
_WS_RE = None
_PARA_RE = None


def _rep_stats_py(text: str, top_ns, dup_ns) -> dict:
    """Per-document reference for ``_rep_stats_batch`` (and its
    fallback for 1-gram families): IDENTICAL integer counts and the
    same float divisions, so the kernel, this reference and the SQL
    oracle agree bit-for-bit."""
    import re
    from collections import Counter

    global _WS_RE, _PARA_RE
    if _WS_RE is None:
        _WS_RE = re.compile(r"\s+", re.ASCII)
        _PARA_RE = re.compile(r"\n{2,}")
    out = {}
    tlen = max(len(text), 1)
    for name, parts in (
        ("line", text.split("\n")),
        ("para", _PARA_RE.split(text)),
    ):
        units = [u for u in (x.strip(" ") for x in parts) if u]
        cnt = Counter(units)
        du = dc = 0
        for u, c in cnt.items():
            if c > 1:
                du += c
                dc += c * len(u)
        out[f"dup_{name}_frac"] = du / max(len(units), 1)
        out[f"dup_{name}_char_frac"] = dc / max(sum(len(u) for u in units), 1)
    words = _WS_RE.split(text)
    words = [w for w in words if w]
    # n-grams counted as TUPLES of interned word ids, not joined
    # strings: join-with-space is injective over whitespace-free words,
    # so id-tuple equality IS joined-string equality (exact — no
    # hashing), and the joined form's length is a prefix-sum lookup
    # (Σ word lens + n − 1). Docs of ≥100 words take a vectorized twin
    # of the same count (`_ngram_stats_np`, incremental rank doubling)
    # — still EXACT id-tuple equality (no hashing, no collisions),
    # same integer counts, same divisions. The dict loop allocates
    # ~9·len(words) tuples per doc and was the allocation bound the
    # 10^3-10^4x decades hit (12.1×/decade); the numpy twin sorts
    # int64 keys in C instead.
    if words:
        intern: dict = {}
        ids = tuple(intern.setdefault(w, len(intern)) for w in words)
        cs = [0]
        for w in words:
            cs.append(cs[-1] + len(w))
        # crossover measured at ~100 words (numpy fixed cost: 9
        # np.unique calls); below it the dict loop wins
        use_np = len(words) >= 100 and min({*top_ns, *dup_ns}) >= 2
        if use_np:
            import numpy as np

            _ngram_stats_np(
                np,
                np.asarray(ids, dtype=np.int64),
                np.asarray(cs, dtype=np.int64),
                set(top_ns),
                set(dup_ns),
                tlen,
                out,
            )
            return out
    for n in {*top_ns, *dup_ns}:
        cnt: dict = {}
        if words and len(words) >= n:
            get = cnt.get
            for i in range(len(words) - n + 1):
                g = ids[i : i + n]
                e = get(g)
                if e is None:
                    cnt[g] = [1, cs[i + n] - cs[i] + n - 1]
                else:
                    e[0] += 1
        if n in top_ns:
            best = (0, 0)
            for c, gl in cnt.values():
                if c > 1:
                    key = (c, c * gl)
                    if key > best:
                        best = key
            out[f"top_{n}gram_char_frac"] = min(best[1] / tlen, 1.0)
        if n in dup_ns:
            dc = 0
            for c, gl in cnt.values():
                if c > 1:
                    dc += c * gl
            out[f"dup_{n}gram_char_frac"] = min(dc / tlen, 1.0)
    return out


def _ngram_stats_np(np, ids_arr, cs_arr, top_ns, dup_ns, tlen, out) -> None:
    """Exact n-gram duplicate stats for ALL families, vectorized by
    incremental rank doubling (the suffix-array trick, one step at a
    time): dense ranks over (n−1)-grams plus the next word id identify
    n-grams exactly, so each family costs ONE ``np.unique`` over an
    int64 key ``(prev_rank << 32) | next_id`` — the numpy fast-path
    sort, no hashing, no collisions (ranks < m < 2³¹, ids < m).
    Identical integer counts to the dict loop: rank equality ⇔
    id-tuple equality ⇔ joined-string equality. Per family, ``top`` =
    lexicographic (c, c·gl) max over c>1 grams (the dict path's
    ``best``), ``dc`` = Σ c·gl; a gram's joined length gl is
    position-independent, read off the char prefix sums at the first
    occurrence. Fills ``out`` in place, zero for families longer than
    the doc.
    """
    m = ids_arr.shape[0]
    families = top_ns | dup_ns
    max_n = max(families)
    rank = ids_arr

    def emit(n, top, dc):
        if n in top_ns:
            out[f"top_{n}gram_char_frac"] = min(top / tlen, 1.0)
        if n in dup_ns:
            out[f"dup_{n}gram_char_frac"] = min(dc / tlen, 1.0)

    for n in range(2, max_n + 1):
        k = m - n + 1
        if k <= 0:
            for nn in range(n, max_n + 1):
                emit(nn, 0, 0)
            return
        key = (rank[:k] << 32) | ids_arr[n - 1 : n - 1 + k]
        _, first, inv, cnts = np.unique(
            key, return_index=True, return_inverse=True, return_counts=True
        )
        rank = inv
        if n in families:
            dup = cnts > 1
            if dup.any():
                c_d = cnts[dup]
                idx = first[dup]
                gl = cs_arr[idx + n] - cs_arr[idx] + (n - 1)
                cg = c_d * gl
                dc = int(cg.sum())
                cmax = c_d.max()
                top = int(cg[c_d == cmax].max())
            else:
                top = dc = 0
            emit(n, top, dc)


def repetition_signals(
    frame: DataFrame,
    text_col: str = "text",
    top_ns: Sequence[int] = (2, 3, 4),
    dup_ns: Sequence[int] = (5, 6, 7, 8, 9, 10),
    thresholds: dict | None = None,
) -> DataFrame:
    """Gopher repetition-quality signals (Rae et al. 2021 §A1.1 Table
    A1, the half ``gopher_rules`` doesn't cover): duplicated line /
    paragraph fractions (by unit and by character), the most-frequent
    word-n-gram's character fraction (n in ``top_ns``), and the
    fraction of characters inside word-n-grams occurring ≥ 2 times
    (n in ``dup_ns``), plus a ``repetition_keep`` boolean applying the
    published thresholds. Reference-free quality filtering: boilerplate,
    spam, and degenerate-repetition docs score high.

    Conventions (mirrored exactly by the DuckDB oracle): lines = trim
    of '\\n'-splits, paragraphs = trim of '\\n{2,}'-splits, empties
    dropped; words = non-empty '\\s+'-splits of the RAW text; an
    n-gram's characters = length of the space-joined form, counted once
    per occurrence (overlaps may exceed the doc length — capped at 1.0);
    denominators: unit fractions over the unit count, line/para char
    fractions over the units' total characters, n-gram fractions over
    ``length(text)``.

    One Arrow-batched ``mapInPandas`` pass counts all n-gram families
    per batch in numpy (``_rep_stats_batch``) — exact integer counts,
    then the float divisions, bit-equal to the per-document reference
    ``_rep_stats_py`` (unit- and fuzz-tested). Scale shape: map-only,
    zero shuffles — a scan-side filter at 100 TB exactly like
    ``gopher_rules``.
    """
    th = {**GOPHER_REP_THRESHOLDS, **(thresholds or {})}
    top_ns, dup_ns = tuple(top_ns), tuple(dup_ns)
    names = _rep_col_names(top_ns, dup_ns)
    schema = ", ".join(
        f"{qi(f.name)} {f.dataType.simpleString()}" for f in frame.spark.schema.fields
    ) + ", " + ", ".join(f"{qi(n)} double" for n in names) + ", `repetition_keep` boolean"

    def fn(batches):
        import numpy as np

        for pdf in batches:
            stats = _rep_stats_batch(list(pdf[text_col]), top_ns, dup_ns)
            keep = np.ones(len(pdf), dtype=bool)
            for nm in ("line", "para"):
                keep &= stats[f"dup_{nm}_frac"] <= th[f"dup_{nm}_frac"]
                keep &= stats[f"dup_{nm}_char_frac"] <= th[f"dup_{nm}_char_frac"]
            for n in top_ns:
                keep &= stats[f"top_{n}gram_char_frac"] <= th["top_ngram_char_frac"][n]
            for n in dup_ns:
                keep &= stats[f"dup_{n}gram_char_frac"] <= th["dup_ngram_char_frac"][n]
            for nm in names:
                pdf[nm] = stats[nm]
            pdf["repetition_keep"] = keep
            yield pdf

    return DataFrame(spread(frame.spark).mapInPandas(fn, schema))


def _rep_stats_batch(texts, top_ns, dup_ns) -> dict:
    """Batch twin of ``_rep_stats_py`` over a whole Arrow batch —
    identical integer counts and the same float divisions, computed
    for ALL documents at once. Each n-gram family costs ONE
    ``np.unique`` over an int64 key for the ENTIRE batch (incremental
    rank doubling, as in ``_ngram_stats_np``): the 1-gram ranks fold
    the document index in (``(doc_idx << 32) | word_id``), so windows
    never collide across documents, and windows that would span a
    document boundary are masked out by the block-contiguity of
    ``doc_idx`` before each unique (validity is monotone in n — a
    valid (n+1)-window implies its n-prefix was valid, so stale rank
    slots at invalid positions are never read). This amortizes the
    per-document Python overhead that dominates short-document corpora
    (the decade benches run ~54-word docs, far below the ≥100-word
    per-doc numpy gate): measured ~3× over the per-doc dict loop at
    that shape. Per-document line/paragraph stats and the whitespace
    split stay as a cheap Python loop (a handful of units per doc).

    Arrow batches (64k docs ≈ 3.5M words) are processed in ~2k-doc
    sub-chunks: the 9 per-family sorts over a full batch are
    DRAM-bound (28 MB of int64 keys leaves L3), measured 85 µs/doc at
    64k vs 43 µs at 2k on the real corpus. Chunking is free for
    correctness — per-document counts never cross documents, so chunk
    boundaries don't change any output.
    """
    import numpy as np
    from collections import Counter

    if len(texts) > 4096:
        parts = [
            _rep_stats_batch(texts[i : i + 2048], top_ns, dup_ns)
            for i in range(0, len(texts), 2048)
        ]
        return {nm: np.concatenate([p[nm] for p in parts]) for nm in parts[0]}

    global _WS_RE, _PARA_RE
    if _WS_RE is None:
        import re

        _WS_RE = re.compile(r"\s+", re.ASCII)
        _PARA_RE = re.compile(r"\n{2,}")

    ndocs = len(texts)
    names = _rep_col_names(top_ns, dup_ns)
    out = {nm: np.zeros(ndocs) for nm in names}
    tlen = np.ones(ndocs)
    intern: dict = {}
    gids: list = []
    wlens: list = []
    word_counts = np.zeros(ndocs, dtype=np.int64)
    get = intern.setdefault
    for d, text in enumerate(texts):
        if not isinstance(text, str):
            text = ""
        tlen[d] = max(len(text), 1)
        if "\n" in text:
            for name, parts in (
                ("line", text.split("\n")),
                ("para", _PARA_RE.split(text)),
            ):
                units = [u for u in (x.strip(" ") for x in parts) if u]
                cnt = Counter(units)
                du = dc = 0
                for u, c in cnt.items():
                    if c > 1:
                        du += c
                        dc += c * len(u)
                out[f"dup_{name}_frac"][d] = du / max(len(units), 1)
                out[f"dup_{name}_char_frac"][d] = dc / max(
                    sum(len(u) for u in units), 1
                )
        # else: one line == one paragraph == one unit — nothing can
        # duplicate, all four fractions stay 0 (same as the Counter)
        words = [w for w in _WS_RE.split(text) if w]
        word_counts[d] = len(words)
        gids.extend([get(w, len(intern)) for w in words])
        wlens.extend(map(len, words))
    N = len(gids)
    families = {*top_ns, *dup_ns}
    if N == 0 or not families or min(families) < 2:
        # no words anywhere, or a family the incremental chain can't
        # start from — fall back to the exact per-doc path
        if N and families:
            for d, text in enumerate(texts):
                st = _rep_stats_py(
                    text if isinstance(text, str) else "", top_ns, dup_ns
                )
                for n in families:
                    for pref in ("top", "dup"):
                        nm = f"{pref}_{n}gram_char_frac"
                        if nm in out:
                            out[nm][d] = st[nm]
        return out
    gid = np.asarray(gids, dtype=np.int64)
    wl = np.asarray(wlens, dtype=np.int64)
    WL = np.concatenate(([0], np.cumsum(wl)))
    doc_idx = np.repeat(np.arange(ndocs, dtype=np.int64), word_counts)
    max_n = max(families)
    _, rank = np.unique((doc_idx << 32) | gid, return_inverse=True)
    rank = rank.astype(np.int64)
    for n in range(2, max_n + 1):
        k = N - n + 1
        if k <= 0:
            break
        valid = doc_idx[:k] == doc_idx[n - 1 :]
        vpos = np.nonzero(valid)[0]
        if vpos.size == 0:
            break
        vk = (rank[vpos] << 32) | gid[vpos + n - 1]
        _, first_c, inv_c, cnts = np.unique(
            vk, return_index=True, return_inverse=True, return_counts=True
        )
        new_rank = np.zeros(k, dtype=np.int64)
        new_rank[vpos] = inv_c
        rank = new_rank
        if n in families:
            dup = cnts > 1
            if dup.any():
                c_d = cnts[dup]
                pos = vpos[first_c[dup]]
                gl = WL[pos + n] - WL[pos] + (n - 1)
                cg = (c_d * gl).astype(np.float64)
                dof = doc_idx[pos]
                if n in dup_ns:
                    dc_doc = np.bincount(dof, weights=cg, minlength=ndocs)
                    out[f"dup_{n}gram_char_frac"] = np.minimum(dc_doc / tlen, 1.0)
                if n in top_ns:
                    order = np.lexsort((cg, c_d, dof))
                    od = dof[order]
                    last = np.ones(od.size, dtype=bool)
                    last[:-1] = od[:-1] != od[1:]
                    top_doc = np.zeros(ndocs)
                    top_doc[od[last]] = cg[order[last]]
                    out[f"top_{n}gram_char_frac"] = np.minimum(top_doc / tlen, 1.0)
    return out


def repetition_filter(frame: DataFrame, text_col: str = "text", **kwargs) -> DataFrame:
    """Rows passing every Gopher repetition rule, original columns only."""
    flagged = repetition_signals(frame, text_col=text_col, **kwargs)
    return DataFrame(flagged.spark.filter(F.col("repetition_keep")).select(*frame.spark.columns))

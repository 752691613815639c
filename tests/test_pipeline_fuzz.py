"""Property-based fuzzing of the training-data-pipeline operators
(r7 verdict "Next round" #6): the chain fuzzer covers the relational
surface; dedup/similarity/text entries were oracle-tested at FIXED
corpus shapes only. Hypothesis draws adversarial corpora — empty docs,
single-char docs, all-identical docs, unicode whitespace, long
degenerate repetition, planted clones — and checks INVARIANTS that
must hold at any shape:

* exact_dedup: idempotent; one survivor (min id) per distinct text
* minhash_dedup_pairs: canonical (id1<id2, no self-pairs, known ids),
  jaccard within [threshold, 1], every non-empty clone pair found at
  jaccard 1.0, and NO 1.0-by-identity pairs survive an exact dedup
* neardup_clusters: labels equal an independent union-find's
  min-of-component (transitivity; no orphan labels)
* repetition_signals: every fraction in [0, 1], keep is boolean,
  bit-equal to the per-document reference (tests/references.py)
* remove_repeated_ngrams: per-doc output tokens are a subsequence of
  the input tokens; a corpus with no repeated window is unchanged

Determinism: derandomize=True in CI (same contract as
test_chain_fuzz); PIPE_FUZZ_EXAMPLES=n switches to a seeded soak.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import conftest  # noqa: E402,F401

import pandas_spark as ps  # noqa: E402
from pandas_spark.operators import dedup as dd  # noqa: E402
from pandas_spark.operators import text as tx  # noqa: E402

from .references import assert_repetition_matches_reference  # noqa: E402


VOCAB = ["alpha", "beta", "gamma", "delta", "x", "ζeta", "12", "a,b."]
SPECIALS = [
    "",                       # empty doc
    " ",                      # whitespace-only
    "z",                      # single char
    "  \t",         # unicode whitespace
    "spam spam spam spam spam spam spam spam",  # degenerate repetition
    "line one\n\nline one\n\nline two",         # duplicated paragraphs
]


@st.composite
def corpus(draw):
    """List of (doc_id, text): base docs from a tiny vocab (heavy
    shingle overlap), plus planted exact clones and special shapes."""
    n_base = draw(st.integers(2, 6))
    docs = []
    for _ in range(n_base):
        words = draw(st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12))
        docs.append(" ".join(words))
    for s in draw(st.lists(st.sampled_from(SPECIALS), max_size=3)):
        docs.append(s)
    # plant clones: each clones a random earlier doc
    for _ in range(draw(st.integers(0, 3))):
        docs.append(docs[draw(st.integers(0, len(docs) - 1))])
    return [(i, t) for i, t in enumerate(docs)]


def _frame(spark, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return ps.from_pandas(spark, pdf)


FUZZ_SETTINGS = dict(
    max_examples=int(os.environ.get("PIPE_FUZZ_EXAMPLES", "10")),
    deadline=None,
    derandomize="PIPE_FUZZ_EXAMPLES" not in os.environ,
    suppress_health_check=list(HealthCheck),
)


@settings(**FUZZ_SETTINGS)
@given(rows=corpus())
def test_exact_dedup_idempotent_min_id(spark, rows):
    f = _frame(spark, rows)
    once = dd.exact_dedup(f).to_pandas().sort_values("doc_id")
    twice = dd.exact_dedup(dd.exact_dedup(f)).to_pandas().sort_values("doc_id")
    assert once.values.tolist() == twice.values.tolist()
    # min id per distinct text
    want = {}
    for i, t in rows:
        want.setdefault(t, i)
    got = dict(zip(once["text"], once["doc_id"]))
    assert got == {t: i for t, i in want.items()}


@settings(**FUZZ_SETTINGS)
@given(rows=corpus())
def test_minhash_pairs_invariants(spark, rows):
    f = _frame(spark, rows)
    pairs = dd.minhash_dedup_pairs(f, threshold=0.8).to_pandas()
    ids = {i for i, _ in rows}
    texts = dict(rows)
    seen = set()
    for id1, id2, j in pairs.itertuples(index=False):
        assert id1 in ids and id2 in ids and id1 < id2
        assert 0.8 - 1e-9 <= j <= 1.0 + 1e-9
        assert (id1, id2) not in seen, "duplicate pair emitted"
        seen.add((id1, id2))
        if texts[id1] == texts[id2]:
            assert j == pytest.approx(1.0)
    # every clone pair must be found at jaccard 1.0
    for i1, t1 in rows:
        for i2, t2 in rows:
            if i1 < i2 and t1 == t2:
                assert (i1, i2) in seen, f"clone pair {(i1, i2)} missed"
    # no identical texts survive an exact dedup
    deduped = dd.exact_dedup(f)
    p2 = dd.minhash_dedup_pairs(deduped, threshold=0.8).to_pandas()
    for id1, id2, _ in p2.itertuples(index=False):
        assert texts[id1] != texts[id2], "clone pair among exact-dedup survivors"


@settings(**FUZZ_SETTINGS)
@given(rows=corpus())
def test_cluster_labels_match_union_find(spark, rows):
    f = _frame(spark, rows)
    pairs_df = dd.minhash_dedup_pairs(f, threshold=0.8)
    labels = dd.neardup_clusters(pairs_df.spark.select("id1", "id2")).toPandas()
    pairs = pairs_df.to_pandas()[["id1", "id2"]].values.tolist()
    # independent union-find reference
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    want = {x: min(members) for root, members in comp.items() for x in members}
    got = dict(zip(labels["doc_id"], labels["cluster"]))
    assert got == want


@settings(**FUZZ_SETTINGS)
@given(rows=corpus())
def test_repetition_signals_bounded_and_match_reference(spark, rows):
    f = _frame(spark, rows)
    got = tx.repetition_signals(f).spark.collect()
    frac_cols = [x for x in got[0].asDict() if "frac" in x]
    assert frac_cols
    for r in got:
        for col_ in frac_cols:
            assert -1e-12 <= r[col_] <= 1.0 + 1e-12, col_
        assert r["repetition_keep"] in (True, False)
    # bit-equal to the per-document reference
    assert_repetition_matches_reference(got)


@settings(**FUZZ_SETTINGS)
@given(rows=corpus())
def test_remove_repeated_ngrams_subsequence(spark, rows):
    f = _frame(spark, rows)
    out = dd.remove_repeated_ngrams(f, window=3, min_count=2).to_pandas()
    texts = dict(rows)
    for doc_id, new_text in zip(out["doc_id"], out["text"]):
        orig = texts[doc_id].split()
        kept = new_text.split() if isinstance(new_text, str) else []
        # kept tokens must be a subsequence of the original tokens
        it = iter(orig)
        assert all(tok in it for tok in kept), (doc_id, orig, kept)


def test_remove_repeated_ngrams_unique_corpus_unchanged(spark):
    rows = [(0, "one two three four"), (1, "five six seven eight")]
    f = _frame(spark, rows)
    out = dd.remove_repeated_ngrams(f, window=3, min_count=2).to_pandas()
    got = dict(zip(out["doc_id"], out["text"]))
    assert got == dict(rows)


@settings(**FUZZ_SETTINGS)
@given(rows=corpus())
def test_simhash_pairs_hamming_bound(spark, rows):
    f = _frame(spark, rows)
    buckets = dd.simhash_buckets(f, "text", "doc_id").spark.select(
        "doc_id", "simhash"
    ).toPandas()
    sig = dict(zip(buckets["doc_id"], buckets["simhash"]))
    pairs = dd.simhash_pairs(f, max_hamming=3).to_pandas()
    for r in pairs.itertuples(index=False):
        id1, id2 = int(r.id1), int(r.id2)
        assert id1 < id2
        ham = bin((sig[id1] ^ sig[id2]) & ((1 << 64) - 1)).count("1")
        assert ham <= 3, (id1, id2, ham)
    # identical non-empty texts must pair at hamming 0
    texts = dict(rows)
    found = {(int(r.id1), int(r.id2)) for r in pairs.itertuples(index=False)}
    for i1, t1 in rows:
        for i2, t2 in rows:
            if i1 < i2 and t1 == t2 and t1.strip():
                assert (i1, i2) in found, f"identical pair {(i1, i2)} missed"

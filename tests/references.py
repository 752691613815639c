"""Reference implementations that engine kernels are tested against.

Each reference computes the same result as an engine kernel by the
plainest route (per-document Python, one rule at a time). The engine
keeps one implementation per operator; the second one lives here.
"""

from __future__ import annotations

from pandas_spark.operators import text


def _rep_keep(stats: dict, top_ns, dup_ns, th) -> bool:
    """Reference for ``repetition_keep``: every Gopher rule, one at a time."""
    ok = (
        stats["dup_line_frac"] <= th["dup_line_frac"]
        and stats["dup_line_char_frac"] <= th["dup_line_char_frac"]
        and stats["dup_para_frac"] <= th["dup_para_frac"]
        and stats["dup_para_char_frac"] <= th["dup_para_char_frac"]
    )
    for n in top_ns:
        ok = ok and stats[f"top_{n}gram_char_frac"] <= th["top_ngram_char_frac"][n]
    for n in dup_ns:
        ok = ok and stats[f"dup_{n}gram_char_frac"] <= th["dup_ngram_char_frac"][n]
    return ok


def assert_repetition_matches_reference(rows, id_col="doc_id", text_col="text"):
    """Collected ``repetition_signals`` rows vs the per-document
    reference ``_rep_stats_py`` + ``_rep_keep``: the kernel's integer
    counts and divisions are the reference's, so every fraction is
    bit-equal."""
    top_ns, dup_ns = (2, 3, 4), (5, 6, 7, 8, 9, 10)
    names = text._rep_col_names(top_ns, dup_ns)
    assert rows
    for r in rows:
        want = text._rep_stats_py(r[text_col] or "", top_ns, dup_ns)
        assert [r[nm] for nm in names] == [want[nm] for nm in names], r[id_col]
        keep = _rep_keep(want, top_ns, dup_ns, text.GOPHER_REP_THRESHOLDS)
        assert r["repetition_keep"] == keep, r[id_col]

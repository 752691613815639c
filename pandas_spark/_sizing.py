"""Data-sized partition counts for gated fan-out decisions (guide §2.4).

Round-11 sized its local-input spreads by ``defaultParallelism``, which
anti-scales: a 5 000-doc corpus fanned into 32 Arrow-stage partitions
pays 32 Python-worker round trips per run for microseconds of kernel
work each, and a 2 000-row LocalRelation split into 32 ``mapInArrow``
slices of 62 rows cost 1.55-4x wall at local[32] vs local[8] (driver's
PERF_r11 scaling block). Partition counts must derive from DATA size;
the core count is only a ceiling. These helpers centralize that rule:

* ``plan_input_bytes``   — the analyzed plan's leaf-stat byte total
  (parquet footer stats / LocalRelation row estimate; driver-side,
  ~1 ms, no job).
* ``rows_sized_parts``   — clamp(ceil(rows / per_rows), 1, ceiling).
* ``bytes_sized_parts``  — same from bytes.

At production scale both return >= the core ceiling, so every gated
call site degrades to the round-11 behavior (or a no-op coalesce) and
nothing ever SHRINKS a genuinely large scan below its natural split
count — the gates only fire on inputs proven tiny by footer rows or
leaf statistics.
"""

from __future__ import annotations


def plan_input_bytes(sdf) -> int | None:
    """Sum of the analyzed plan's leaf-relation size estimates.

    Parquet leaves report footer file bytes; LocalRelations report the
    estimated row-encoding size. None = unavailable (Connect, streaming,
    exotic leaves) — callers keep their current layout."""
    try:
        leaves = sdf._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            total += int(leaves.apply(i).stats().sizeInBytes())
        return total
    except Exception:
        return None


def rows_sized_parts(rows: int | None, per_rows: int, ceiling: int) -> int | None:
    """Data-derived partition count, or None when rows are unknown."""
    if not rows or rows <= 0 or per_rows <= 0:
        return None
    return max(1, min((rows + per_rows - 1) // per_rows, ceiling))


def bytes_sized_parts(nbytes: int | None, per_bytes: int, ceiling: int) -> int | None:
    if not nbytes or nbytes <= 0 or per_bytes <= 0:
        return None
    return max(1, min((nbytes + per_bytes - 1) // per_bytes, ceiling))

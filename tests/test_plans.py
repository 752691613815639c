"""Physical-plan assertions (SCALE.md): the optimizations we rely on at
100 TB must actually appear in the plans — pushdown, pruning, broadcast,
shuffle-free bucketed joins, pre-shuffle top-k pruning. A regression
here is a silent 10–100× slowdown at scale even when results stay
correct."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR  # noqa: E402

import pandas_spark as ps  # noqa: E402
from pandas_spark import col  # noqa: E402


def plan_of(sdf) -> str:
    return sdf._sc._jvm.PythonSQLUtils.explainString(
        sdf._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_reach_the_scan(spark):
    # cache=False: at test SF lineitem fits the buffer pool and would
    # read from InMemoryRelation; this test is about the FileScan a
    # fact table (never pool-eligible at scale) gets.
    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet", cache=False)
    q = (
        li.filter(col("l_quantity") < 10)
        .select(["l_orderkey", "l_quantity"])
        .to_spark()
    )
    plan = plan_of(q)
    assert "PushedFilters: [" in plan and "LessThan(l_quantity,10" in plan
    # pruned read schema: only the two referenced columns are scanned
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_small_dimension_join_broadcasts(spark):
    """A footer-proven TINY driver-local dim (nation, 25 rows) folds
    into literal map lookups — the zero-job broadcast (r10): no join
    operator at all, no BroadcastExchange build job. A dim above the
    tiny cap but still broadcast-sized keeps the BroadcastHashJoin."""
    cust = ps.read_parquet(spark, f"{SF_DIR}/customer.parquet")
    nat = ps.read_parquet(spark, f"{SF_DIR}/nation.parquet")
    j = cust.merge(nat, left_on="c_nationkey", right_on="n_nationkey", broadcast="right")
    plan = plan_of(j.to_spark())
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan  # literal-map compose: map-only plan
    # the lookup survives as element_at(map(...)) over a real scan, or
    # (both sides driver-local) constant-folds to a bare LocalTableScan
    assert "element_at" in plan or "LocalTableScan" in plan

    # strip the tiny proof → the real broadcast join path
    unproven = nat._with(nat._sdf)  # rows_max drops by default
    j2 = cust.merge(unproven, left_on="c_nationkey", right_on="n_nationkey",
                    broadcast="right")
    plan2 = plan_of(j2.to_spark())
    assert "BroadcastHashJoin" in plan2
    assert "SortMergeJoin" not in plan2


def test_bucketed_join_has_no_exchange(spark):
    from pandas_spark.operators.joins import bucketed_join

    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet").rename(
        {"l_orderkey": "o_orderkey"}
    ).select(["o_orderkey", "l_quantity"])
    orders = ps.read_parquet(spark, f"{SF_DIR}/orders.parquet").select(
        ["o_orderkey", "o_orderpriority"]
    )
    # disable broadcast so the planner actually uses the buckets (at
    # real scale both sides are too big to broadcast anyway)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, li, orders, "o_orderkey", buckets=4, table_prefix="t_plans")
        plan = plan_of(j.to_spark())
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Exchange hashpartitioning" not in plan, "bucketed join must not shuffle"
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan


def test_sorted_dedup_prunes_before_shuffle(spark):
    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet").select(
        ["l_suppkey", "l_orderkey", "l_linenumber"]
    )
    q = (
        li.sort_values(["l_orderkey", "l_linenumber"])
        .drop_duplicates(subset=["l_suppkey"], keep="first")
        .to_spark()
    )
    plan = plan_of(q)
    # keep=first under an ascending sort with footer-PROVEN integral
    # sort keys compiles to the packed-long HashAggregate
    # (frame._dedup_pack_long, r11): min of ONE packed bigint, partial
    # agg prunes per task BEFORE the exchange, no map-side sort, no
    # struct min_by (the former SortAggregate formulation), no
    # WindowGroupLimit (the pre-r10 window plan)
    simple = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    assert "partial_min(" in simple
    assert "SortAggregate" not in simple
    assert "WindowGroupLimit" not in simple
    # map-side partial reduction: the partial agg sits BELOW the hash
    # exchange (simple tree prints top-down, deeper = later)
    assert simple.index("partial_min(") > simple.index("hashpartitioning")
    # the user's global sort orders only the DEDUPED output, and sits
    # ABOVE the dedup hash exchange. Its physical form depends on the
    # footer row proof: a proven-small frame sorts on one task behind
    # a NARROW coalesce (no range exchange, no sampling job); an
    # unproven/large frame pays the distributed range sort.
    if "rangepartitioning" in simple:
        assert simple.index("rangepartitioning") < simple.index("hashpartitioning")
    else:
        assert "Coalesce 1" in simple and "Sort" in simple
        assert simple.index("Coalesce 1") < simple.index("hashpartitioning")
    # desc sort specs still take the window path (no generic inversion)
    q2 = (
        li.sort_values(["l_orderkey"], ascending=False)
        .drop_duplicates(subset=["l_suppkey"], keep="first")
        .to_spark()
    )
    assert "WindowGroupLimit" in plan_of(q2)


def test_sorted_head_is_top_k(spark):
    orders = ps.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    q = orders.sort_values("o_totalprice", ascending=False).head(10).to_spark()
    assert "TakeOrderedAndProject" in plan_of(q)


def test_small_plan_exec_mode(spark):
    """to_spark() picks the execution regime from proven source size:
    a footer-tiny plan drops AQE (each exchange materialization is a
    whole extra job — pure scheduler floor on sub-second queries) and
    sizes shuffle partitions to the data; any plan at or above the
    threshold restores the adaptive defaults. A wrong guess can only
    cost milliseconds — large plans can never lose AQE because the
    gate is an upper bound from source statistics."""
    import pandas_spark.session as S

    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    li.to_spark()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    baseline0 = S._tune_state["baseline"]
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # data-sized: at least 4-way, never above the session default
    default = int(baseline0["spark.sql.shuffle.partitions"])
    assert min(4, default) <= parts <= default
    old = S._SMALL_PLAN_BYTES
    S._SMALL_PLAN_BYTES = 1  # everything is now "large"
    try:
        li.to_spark()
        # large mode: AQE + shuffle partitions back to the adaptive
        # defaults...
        assert (
            spark.conf.get("spark.sql.adaptive.enabled")
            == baseline0["spark.sql.adaptive.enabled"]
        )
        assert (
            spark.conf.get("spark.sql.shuffle.partitions")
            == baseline0["spark.sql.shuffle.partitions"]
        )
        # ...plus a byte-derived seed for AQE's partition coalescer
        # (r12 spill-proofing): never below the session default, never
        # above the cap, and restored when leaving large mode
        init = int(spark.conf.get(S._INIT_PARTS_KEY))
        assert (
            int(baseline0["spark.sql.shuffle.partitions"])
            <= init
            <= S._LARGE_INIT_PART_CAP
        )
        assert S._tune_state["applied"][S._INIT_PARTS_KEY] == str(init)
    finally:
        S._SMALL_PLAN_BYTES = old
        li.to_spark()  # restore small mode for subsequent tests
    assert S._conf_get(spark, S._INIT_PARTS_KEY) == baseline0[S._INIT_PARTS_KEY]


def test_exec_mode_retunes_at_every_consumption_boundary(spark):
    """r9 ADVICE: collect()/to_pandas()/count() consumed via .spark
    without re-tuning, so a LARGE query run after a small-plan
    to_spark() executed under small-mode settings. Every action now
    routes through the tuner, so the large plan restores defaults."""
    import pandas_spark.session as S

    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    li.to_spark()  # enter small mode
    assert S._tune_state["applied"] is not None
    old = S._SMALL_PLAN_BYTES
    S._SMALL_PLAN_BYTES = 1  # the same plan is now "large"
    try:
        li.head(1).to_pandas()  # a mere ACTION must re-tune
        # large mode restores the adaptive defaults (and, r12, seeds
        # the AQE coalescer — so "applied" records the large mode)
        applied = S._tune_state["applied"]
        assert applied is None or "false" not in applied.values()
        assert spark.conf.get("spark.sql.adaptive.enabled") != "false"
    finally:
        S._SMALL_PLAN_BYTES = old
        li.to_spark()


def test_stats_less_leaf_counts_as_unknown_size(spark):
    """A ``LogicalRDD`` leaf has no statistics, so Spark estimates it at
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue). The tuner reads
    that as unknown size and restores the defaults. Summing it would
    put a two-row plan in large mode with AQE's initial partition
    count at the 1024 cap, which then also governed the jobs of the
    next query built before any re-tune."""
    import pandas_spark.session as S

    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    li.to_spark()  # enter small mode
    assert S._tune_state["applied"] is not None
    rdd = spark.createDataFrame(spark.sparkContext.parallelize([(1,), (2,)]), "a long")
    try:
        S.tune_for_plan(rdd)
        baseline = S._tune_state["baseline"]
        assert baseline[S._INIT_PARTS_KEY] is None
        assert S._conf_get(spark, S._INIT_PARTS_KEY) is None
        assert S._tune_state["applied"] is None  # full restore
        assert (spark.conf.get("spark.sql.adaptive.enabled")
                == baseline["spark.sql.adaptive.enabled"])
    finally:
        li.to_spark()


def test_exec_mode_respects_user_conf_overrides(spark):
    """Leaving small mode restores the user's CURRENT conf intent:
    a key the user changed while small mode was live keeps the user's
    value (r9 ADVICE: the one-time defaults snapshot clobbered it)."""
    import pandas_spark.session as S

    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    li.to_spark()  # enter small mode
    assert S._tune_state["applied"] is not None
    before = S._tune_state["baseline"]["spark.sql.shuffle.partitions"]
    spark.conf.set("spark.sql.shuffle.partitions", "7")  # user override
    old = S._SMALL_PLAN_BYTES
    S._SMALL_PLAN_BYTES = 1
    try:
        li.to_spark()  # leave small mode
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        # r12: large mode applies the AQE coalescer seed; the user's
        # override is the floor it builds on, never clobbered
        applied = S._tune_state["applied"]
        assert applied is None or (
            applied["spark.sql.shuffle.partitions"] == "7"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        S._SMALL_PLAN_BYTES = old
        li.to_spark()


def test_small_sort_skips_range_exchange(spark):
    """A frame footer-PROVEN small presents its sort as a narrow
    coalesce + one-task local sort — no range exchange, no sampling
    job. An identical frame WITHOUT the proof (cache=False drops
    nothing, so synthesize via explicit rows_max strip) keeps the
    distributed range sort."""
    orders = ps.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    sorted_f = orders.sort_values(["o_totalprice"])
    assert sorted_f._rows_max is not None  # footer proof survives sort
    plan = plan_of(sorted_f.to_spark())
    assert "rangepartitioning" not in plan
    assert "Coalesce" in plan
    # strip the proof: same plan must fall back to the range sort
    unproven = sorted_f._with(sorted_f._sdf)  # rows_max drops by default
    unproven._sort_spec = sorted_f._sort_spec
    plan2 = plan_of(unproven.to_spark())
    assert "rangepartitioning" in plan2
    assert "Coalesce" not in plan2


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    orders = ps.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_by_status")
    orders.to_parquet(path, partition_by=["o_orderstatus"])
    back = ps.read_parquet(spark, path).filter(col("o_orderstatus") == "F")
    plan = plan_of(back.to_spark())
    # the filter must prune at the file-index level, not scan+filter
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_ivf_corpus_never_shuffles(spark):
    from pandas_spark.frame import DataFrame
    from pandas_spark.operators import similarity
    from pyspark.sql import functions as F

    emb = ps.read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    emb = DataFrame(emb.to_spark().withColumn("embedding", F.col("embedding").cast("array<double>")))
    queries = DataFrame(
        emb.to_spark().filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    q = similarity.ivf_topk(emb, queries, k=5, k_cells=4, nprobe=2).to_spark()
    plan = plan_of(q)
    # the candidate join must broadcast the probe side; the corpus side
    # stays map-side (cell assignment is a projection, not an exchange)
    assert "BroadcastHashJoin" in plan
    join_input = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in join_input, (
        "corpus must reach the cell join without shuffling"
    )


def test_lsh_candidates_are_one_shuffle_no_selfjoin(spark):
    """Candidate generation must be a single bucket aggregation with
    in-bucket HOF pair expansion — no self-join (which would evaluate
    the banding subtree twice) and exactly two hash exchanges: the
    (band, bucket) groupBy and the pair-level distinct."""
    from pandas_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = ps.read_parquet(spark, f"{SF_DIR}/documents.parquet").to_spark()
    base = dedup.minhash_signature(docs, "text", 16, 5)
    pairs = dedup.lsh_candidate_pairs(base, "doc_id", "minhash", bands=8, rows=2)
    plan = plan_of(pairs)
    assert "Join" not in plan, "bucket self-join crept back into candidate generation"
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"expected <=2 hash exchanges (groupBy + distinct), got {n_exchanges}"


def test_left_join_broadcasts_preserved_dim(spark):
    """broadcast='left' on a left join: with the right footer-PROVEN
    small (sf0.1 orders), the hint collapses to ONE plain LeftOuter —
    BuildRight is legal there, no rewrite machinery (r10). Without the
    proof (rows_max stripped — the 100 TB fact case), the hint is
    honored via the inner-∪-anti rewrite: the dim side broadcasts into
    the inner part (fact streams, never shuffles) and the anti part
    broadcasts the distinct fact keyset — no SortMergeJoin, no
    fact-side broadcast."""
    cust = ps.read_parquet(spark, f"{SF_DIR}/customer.parquet")
    orders = ps.read_parquet(spark, f"{SF_DIR}/orders.parquet")
    j = cust.merge(orders, left_on="c_custkey", right_on="o_custkey",
                   how="left", broadcast="left")
    plan = plan_of(j.to_spark())
    assert "SortMergeJoin" not in plan
    assert "Union" not in plan  # proven-small right: single plain join
    assert "BroadcastHashJoin" in plan

    # strip the right side's footer proof: same merge must take the
    # rewrite (the huge-fact regime)
    unproven = orders._with(orders._sdf)  # rows_max drops by default
    j2 = cust.merge(unproven, left_on="c_custkey", right_on="o_custkey",
                    how="left", broadcast="left")
    plan2 = plan_of(j2.to_spark())
    assert "SortMergeJoin" not in plan2
    assert "Union" in plan2
    assert "BroadcastHashJoin" in plan2
    # the inner part must build (broadcast) the LEFT/dim side
    assert "BuildLeft" in plan2


def test_corpus_scrub_ops_are_map_only(spark):
    """PII redaction and chunking must stay shuffle-free — they run at
    ingest over the full corpus, where any Exchange would re-move 100 TB."""
    from pandas_spark.operators.text import chunk_documents, redact_pii

    docs = ps.read_parquet(spark, f"{SF_DIR}/documents.parquet")
    p1 = plan_of(redact_pii(docs, "text").to_spark())
    assert "Exchange" not in p1
    p2 = plan_of(chunk_documents(docs, "text", "doc_id").to_spark())
    assert "Exchange" not in p2


def test_pack_sequences_is_one_shuffle(spark):
    """Packing shuffles once on the shard key; placement is window math
    inside the shard partitions — no second exchange, no global sort."""
    from pandas_spark.operators.text import pack_sequences

    docs = ps.read_parquet(spark, f"{SF_DIR}/documents.parquet")
    from pyspark.sql import functions as F

    sized = ps.DataFrame(docs.spark.select("doc_id", F.length("text").alias("nt")))
    import re

    plan = plan_of(pack_sequences(sized, "nt", n_shards=8).to_spark())
    # formatted mode lists each node once as "(n) Exchange"
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan


def test_gopher_and_row_reductions_are_map_only(spark):
    """Quality rules and axis=1 reductions are scan-side filters —
    any Exchange here would re-move the whole corpus at ingest."""
    from pandas_spark.operators.text import gopher_rules

    docs = ps.read_parquet(spark, f"{SF_DIR}/documents.parquet")
    assert "Exchange" not in plan_of(gopher_rules(docs, "text").to_spark())
    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    sub = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    r = li.reduce_rows("sum", subset=sub).reduce_rows("mean", subset=sub)
    assert "Exchange" not in plan_of(r.to_spark())


def test_cosine_topk_shuffles_partial_topk_not_cross_product(spark):
    """The matmul top-k plan must window over the mapInPandas partial
    top-k output (partitions×q×k rows), NOT shuffle an n×q scored
    cross join — and the corpus scan itself must not exchange before
    the kernel."""
    import re

    from pandas_spark.operators.similarity import cosine_topk
    from pyspark.sql import functions as F

    emb = ps.read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    emb = ps.DataFrame(emb.spark.withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = ps.DataFrame(
        emb.spark.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    plan = plan_of(cosine_topk(emb, q, k=10).to_spark())
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "MapInArrow" in plan  # round-5 zero-copy rewrite (was MapInPandas)
    # the per-query top-k must stay bounded by a WindowGroupLimit
    assert "WindowGroupLimit" in plan
    # at most one exchange (the per-query window over the partial
    # top-k); for this PROVEN-TINY corpus the r12 data-sized coalesce
    # makes the kernel input a single partition, which satisfies the
    # window's ClusteredDistribution outright — ZERO exchanges
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_plan_report_counts_join_plan(spark):
    from pandas_spark.operators import diagnostics as D

    # cache=False: plan_report's per-scan pushdown/pruning section reads
    # parquet FileScan nodes; at test SF both tables are pool-eligible.
    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet", cache=False)
    orders = ps.read_parquet(spark, f"{SF_DIR}/orders.parquet", cache=False)
    j = (
        li.merge(orders.filter(col("o_orderdate") >= "1996-01-01"),
                 left_on="l_orderkey", right_on="o_orderkey")
        .groupby("o_orderpriority")
        .agg(n=("l_quantity", "size"))
    )
    r = D.plan_report(j)
    assert r["broadcast_joins"] == 1
    assert r["shuffles"] == 1  # the group-by exchange only
    assert r["single_partition_exchanges"] == 0
    assert r["row_python_nodes"] == 0
    # pushdown + pruning visible per scan
    ord_scan = [s for s in r["scans"] if "o_orderdate" in s["read_schema"]][0]
    assert "GreaterThanOrEqual(o_orderdate" in ord_scan["pushed_filters"]
    # gate passes within budget, fails under an impossible one
    assert D.assert_scalable(j, max_shuffles=2)["shuffles"] == 1
    import pytest as _pytest

    with _pytest.raises(D.PlanScaleError):
        D.assert_scalable(j, max_shuffles=0)


def test_assert_scalable_catches_single_partition(spark):
    from pandas_spark.operators import diagnostics as D
    from pyspark.sql import Window as W, functions as F
    import pytest as _pytest

    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    bad = li.select(["l_orderkey", "l_quantity"]).to_spark().withColumn(
        "x", F.sum("l_quantity").over(W.partitionBy().orderBy("l_orderkey"))
    )
    with _pytest.raises(D.PlanScaleError, match="SinglePartition"):
        D.assert_scalable(bad)
    # keyed variant passes
    good = li.select(["l_orderkey", "l_quantity"]).to_spark().withColumn(
        "x",
        F.sum("l_quantity").over(
            W.partitionBy("l_orderkey").orderBy("l_quantity")
        ),
    )
    D.assert_scalable(good)


def test_assert_scalable_catches_row_python_and_cartesian(spark):
    from pandas_spark.operators import diagnostics as D
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType
    import pytest as _pytest

    li = ps.read_parquet(spark, f"{SF_DIR}/lineitem.parquet").select(
        ["l_orderkey"]
    ).to_spark()
    slow = F.udf(lambda x: x + 1, LongType())  # row-at-a-time
    with _pytest.raises(D.PlanScaleError, match="row-at-a-time"):
        D.assert_scalable(li.withColumn("y", slow("l_orderkey")))
    orders = ps.read_parquet(spark, f"{SF_DIR}/orders.parquet").select(
        ["o_orderkey"]
    ).to_spark()
    with _pytest.raises(D.PlanScaleError, match="cartesian"):
        D.assert_scalable(li.crossJoin(orders))

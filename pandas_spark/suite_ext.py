"""Extended suite: wider SURVEY.md §2 coverage, one oracle per operator.

Covers the operator families v0.1's suite left unchecked: statistical
shims (skew/kurt/sem — pandas G1/G2 formulas, groupby.pyx:1069/1139),
quantile, idxmin/idxmax (min_by/max_by), nth, rank(average/pct),
cumcount/ngroup, transform+filter, per-group ffill, row-window rolling,
expanding, ewm (recursive, applyInPandas), global reductions, crosstab,
get_dummies, qcut, explode, combine_first, compare, floordiv/mod Python
semantics, extra string/datetime functions, and CSV/JSON round-trips.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame as SparkDF, SparkSession
from pandas_spark import fshim as F  # backtick-safe F.col facade

import pandas_spark as ps
from pandas_spark import col
from pandas_spark.frame import DataFrame
from pandas_spark.suite import EAVG, ECORR, ECOV, ESTD, ESUM, query

_SCRATCH = "/root/repo/.scratch"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return ps.read_parquet(spark, f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# §2.4 groupby: statistical shims + positional + rank family
# ---------------------------------------------------------------------------

@query(
    "groupby_skew_kurt",
    oracle="""
    SELECT l_returnflag,
           skewness(l_extendedprice) AS skew_price,
           kurtosis(l_extendedprice) AS kurt_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def groupby_skew_kurt(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pandas G1/G2 bias-adjusted moments (groupby.pyx:1069,1139) as
    composite one-pass agg expressions — DuckDB's skewness/kurtosis use
    the same sample-adjusted formulas."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupby("l_returnflag")
        .agg(skew_price=("l_extendedprice", "skew"), kurt_price=("l_extendedprice", "kurt"))
        .to_spark()
    )


@query(
    "groupby_quantile",
    oracle="""
    SELECT o_orderpriority, quantile_cont(o_totalprice, 0.25) AS q25
    FROM orders GROUP BY o_orderpriority
    """,
)
def groupby_quantile(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").select(["o_orderpriority", "o_totalprice"])
    return orders.groupby("o_orderpriority").quantile(0.25).rename({"o_totalprice": "q25"}).to_spark()


@query(
    "groupby_idxminmax",
    oracle="""
    SELECT o_orderpriority,
           arg_min(o_orderkey, o_totalprice) AS idxmin_o_totalprice,
           arg_max(o_orderkey, o_totalprice) AS idxmax_o_totalprice
    FROM orders GROUP BY o_orderpriority
    """,
)
def groupby_idxminmax(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    lo = orders.groupby("o_orderpriority").idxmin("o_totalprice", "o_orderkey")
    hi = orders.groupby("o_orderpriority").idxmax("o_totalprice", "o_orderkey")
    return ps.merge(lo, hi, on="o_orderpriority", how="inner").to_spark()


@query(
    "groupby_nth",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 3
    """,
)
def groupby_nth(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").select(["o_custkey", "o_orderkey", "o_totalprice"])
    return orders.groupby("o_custkey").nth(2, order_by="o_orderkey").to_spark()


@query(
    "groupby_rank_avg_pct",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           rank() OVER w + (count(*) OVER (PARTITION BY l_suppkey, l_quantity) - 1) / 2.0
               AS qty_rank,
           (rank() OVER w + (count(*) OVER (PARTITION BY l_suppkey, l_quantity) - 1) / 2.0)
               / count(*) OVER (PARTITION BY l_suppkey) AS qty_pct
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_quantity)
    """,
)
def groupby_rank_avg_pct(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem")
    out = (
        lineitem.groupby("l_suppkey")
        .rank("l_quantity", method="average", alias="qty_rank")
        .groupby("l_suppkey")
        .rank("l_quantity", method="average", pct=True, alias="qty_pct")
    )
    return out.select(["l_orderkey", "l_linenumber", "qty_rank", "qty_pct"]).to_spark()


@query(
    "groupby_cumcount_ngroup",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS cumcount,
           dense_rank() OVER (ORDER BY o_custkey) - 1 AS ngroup
    FROM orders
    """,
)
def groupby_cumcount_ngroup(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupby("o_custkey")
        .cumcount(order_by="o_orderkey")
        .groupby("o_custkey")
        .ngroup()
    )
    return (
        out.select(["o_orderkey", "cumcount", "ngroup"])
        .to_spark()
        .withColumn("cumcount", F.col("cumcount").cast("long"))
        .withColumn("ngroup", F.col("ngroup").cast("long"))
    )


@query(
    "groupby_transform_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
    FROM orders
    QUALIFY count(*) OVER (PARTITION BY o_custkey) > 20
    """,
)
def groupby_transform_filter(spark: SparkSession, sf_dir: str) -> SparkDF:
    """transform = window-agg broadcast back (no shuffle-back join);
    filter-groups = window count predicate (generic.py:817)."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupby("o_custkey")
        .transform("mean", "o_totalprice", alias="cust_avg")
        .groupby("o_custkey")
        .filter("cnt > 20", {"cnt": F.count(F.lit(1))})
    )
    return out.select(["o_orderkey", "o_custkey", "o_totalprice", "cust_avg"]).to_spark()


@query(
    "groupby_ffill",
    oracle="""
    SELECT event_id, user_id,
           last_value(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_filled
    FROM (SELECT event_id, user_id,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM events)
    """,
)
def groupby_ffill(spark: SparkSession, sf_dir: str) -> SparkDF:
    events = _t(spark, sf_dir, "events")
    # carry the last purchase value forward per user (group ffill,
    # groupby.pyx:545 group_fillna_indexer → last(ignorenulls) window)
    sparse = DataFrame(
        events.spark.withColumn(
            "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
        )
    )
    out = sparse.groupby("user_id").ffill("pv", alias="pv_filled", order_by="event_id")
    return out.select(["event_id", "user_id", "pv_filled"]).to_spark()


# ---------------------------------------------------------------------------
# §2.5 windows: row rolling / expanding / ewm
# ---------------------------------------------------------------------------

@query(
    "rolling_rows_mean",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(value) OVER w >= 5 THEN avg(value) OVER w END AS value_roll5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_rows_mean(spark: SparkSession, sf_dir: str) -> SparkDF:
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 5, on="event_id", by=["user_id"])
    return r.mean("value", alias="value_roll5").select(
        ["event_id", "user_id", "value_roll5"]
    ).to_spark()


@query(
    "rolling_corr",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(CASE WHEN value IS NOT NULL THEN 1 END) OVER w >= 10
                THEN corr(value, epoch_us(ts)) OVER w END AS v_t_corr
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_corr(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling.corr between value and event time — Spark's frame-legal
    corr window aggregate, one pass, no UDF (window/rolling.py:1780)."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events").assign(t_us=F.unix_micros(F.col("ts").cast("timestamp")))
    r = Rolling(events, 10, on="event_id", by=["user_id"])
    return (
        r.corr("value", "t_us", alias="v_t_corr")
        .select(["event_id", "user_id", "v_t_corr"])
        .to_spark()
    )


@query(
    "rolling_quantile",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(value) OVER w >= 5
                THEN quantile_cont(value, 0.75) OVER w END AS value_q75
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_quantile(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling.quantile (aggregations.pyx:1404) — sorted-frame-array
    linear interpolation, JVM-side."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 5, on="event_id", by=["user_id"])
    return r.quantile("value", 0.75, alias="value_q75").select(
        ["event_id", "user_id", "value_q75"]
    ).to_spark()


@query(
    "rolling_rank",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, value,
               list(value) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS lst
        FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN value IS NOT NULL
                 AND len(list_filter(lst, v -> v IS NOT NULL)) >= 5
                THEN (len(list_filter(lst, v -> v < value))
                      + len(list_filter(lst, v -> v <= value)) + 1) / 2.0
           END AS value_rank
    FROM l
    """,
)
def rolling_rank(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling.rank method=average (aggregations.pyx:1528) — lt/le
    counts via array HOFs against the current row value."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 5, on="event_id", by=["user_id"])
    return r.rank("value", alias="value_rank").select(
        ["event_id", "user_id", "value_rank"]
    ).to_spark()


@query(
    "rolling_nunique",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(event_type) OVER w >= 5
                THEN len(list_distinct(list(event_type) OVER w)) END AS type_nuniq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_nunique(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling.nunique (aggregations.pyx:1636) — distinct non-null
    count over the frame array."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 5, on="event_id", by=["user_id"])
    return r.nunique("event_type", alias="type_nuniq").select(
        ["event_id", "user_id", "type_nuniq"]
    ).to_spark()


@query(
    "expanding_sum",
    oracle="""
    SELECT event_id, user_id,
           sum(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_expanding
    FROM events
    """,
)
def expanding_sum(spark: SparkSession, sf_dir: str) -> SparkDF:
    from pandas_spark.window import Expanding

    events = _t(spark, sf_dir, "events")
    e = Expanding(events, on="event_id", by=["user_id"])
    return e.sum("value", alias="value_expanding").select(
        ["event_id", "user_id", "value_expanding"]
    ).to_spark()


@query(
    "ewm_mean",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id,
               list(value) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lst
        FROM events
    )
    SELECT event_id, user_id,
           list_sum(list_transform(range(1, len(lst)+1), i -> lst[i] * 0.7 ** (len(lst)-i)))
           / list_sum(list_transform(range(1, len(lst)+1), i -> 0.7 ** (len(lst)-i)))
               AS value_ewm
    FROM l
    """,
)
def ewm_mean(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Recursive EWM (window/ewm.py:127) per key via Arrow-batched
    applyInPandas; oracle is the closed-form adjust=True weighted sum."""
    from pandas_spark.window import ewm_mean as ewm

    # prune BEFORE the Python boundary: only (key, order, value) cross
    # Arrow; the wide props column never leaves the JVM
    events = _t(spark, sf_dir, "events").select(["event_id", "user_id", "value"])
    out = ewm(events, "value", alpha=0.3, by=["user_id"], order_by="event_id", alias="value_ewm")
    return out.select(["event_id", "user_id", "value_ewm"]).to_spark()


# ---------------------------------------------------------------------------
# global reductions / scalar shims
# ---------------------------------------------------------------------------

@query(
    "global_reductions",
    oracle=f"""
    SELECT {ESUM('l_quantity')}                   AS total_qty,
           {EAVG('l_extendedprice')}              AS avg_price,
           {ESTD('l_extendedprice')}              AS std_price,
           median(l_discount)                     AS median_disc,
           count(l_orderkey)::BIGINT              AS n,
           count(DISTINCT l_suppkey)::BIGINT      AS n_supp,
           skewness(l_tax)                        AS skew_tax
    FROM lineitem
    """,
)
def global_reductions(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.agg(
        total_qty=("l_quantity", "sum"),
        avg_price=("l_extendedprice", "mean"),
        std_price=("l_extendedprice", "std"),
        median_disc=("l_discount", "median"),
        n=("l_orderkey", "count"),
        n_supp=("l_suppkey", "nunique"),
        skew_tax=("l_tax", "skew"),
    ).to_spark()


@query(
    "python_div_semantics",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor((l_quantity - 25) / 7)                      AS fdiv,
           ((l_quantity - 25) % 7 + 7) % 7                   AS pmod,
           CASE WHEN l_tax = 0 AND l_discount = 0 THEN 'nan'::DOUBLE
                WHEN l_tax = 0 THEN 'infinity'::DOUBLE
                ELSE l_discount / l_tax END                  AS ratio
    FROM lineitem
    """,
)
def python_div_semantics(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pandas floordiv/mod follow Python floor semantics and 1/0=inf
    (ops/array_ops.py:242) — Spark follows C and NULL; the Expr layer
    shims both (SURVEY §2.8)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.assign(
            fdiv=(col("l_quantity") - 25) // 7,
            pmod=(col("l_quantity") - 25) % 7,
            ratio=col("l_discount") / col("l_tax"),
        )
        .select(["l_orderkey", "l_linenumber", "fdiv", "pmod", "ratio"])
        .to_spark()
    )


# ---------------------------------------------------------------------------
# §2.9 reshape extras
# ---------------------------------------------------------------------------

@query(
    "crosstab_freq",
    oracle="""
    SELECT o_orderpriority,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS F,
           sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS O,
           sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def crosstab_freq(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    return ps.crosstab(orders, "o_orderpriority", "o_orderstatus").to_spark()


@query(
    "get_dummies_onehot",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (l_returnflag = 'A')::INT AS "l_returnflag_A",
           (l_returnflag = 'N')::INT AS "l_returnflag_N",
           (l_returnflag = 'R')::INT AS "l_returnflag_R"
    FROM lineitem
    """,
)
def get_dummies_onehot(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem").select(
        ["l_orderkey", "l_linenumber", "l_returnflag"]
    )
    return ps.get_dummies(
        lineitem, ["l_returnflag"], categories={"l_returnflag": ["A", "N", "R"]}
    ).to_spark()


@query(
    "qcut_quartiles",
    oracle="""
    SELECT qbin, count(*)::BIGINT AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM (SELECT o_totalprice,
                 ntile(4) OVER (ORDER BY o_totalprice) - 1 AS qbin
          FROM orders)
    GROUP BY qbin
    """,
)
def qcut_quartiles(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    out = ps.qcut(orders, "o_totalprice", 4, alias="qbin")
    return (
        out.groupby("qbin")
        .agg(n=("o_orderkey", "size"), lo=("o_totalprice", "min"), hi=("o_totalprice", "max"))
        .to_spark()
        .withColumn("qbin", F.col("qbin").cast("long"))
    )


@query(
    "explode_tokens",
    oracle=r"""
    SELECT tok, count(*)::BIGINT AS n
    FROM (SELECT unnest(string_split_regex(trim(regexp_replace(lower(text),
                 '[^\p{L}\p{N}]+', ' ', 'g')), ' ')) AS tok
          FROM documents)
    GROUP BY tok
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> SparkDF:
    from pandas_spark.operators.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    toks = DataFrame(docs.spark.withColumn("tok", tokens_expr(F.col("text"))))
    return (
        toks.explode("tok")
        .groupby("tok")
        .agg(n=("tok", "size"))
        .to_spark()
    )


# ---------------------------------------------------------------------------
# §2.7 set ops: combine_first / compare
# ---------------------------------------------------------------------------

@query(
    "combine_first_overlay",
    oracle="""
    SELECT o_orderkey, coalesce(
        CASE WHEN o_orderstatus = 'F' THEN o_totalprice END, -1.0) AS val
    FROM orders
    """,
)
def combine_first_overlay(spark: SparkSession, sf_dir: str) -> SparkDF:
    from pandas_spark.operators.setops import combine_first

    orders = _t(spark, sf_dir, "orders")
    left = DataFrame(
        orders.spark.select(
            "o_orderkey",
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).alias("val"),
        )
    ).set_index("o_orderkey")
    right = DataFrame(
        orders.spark.select("o_orderkey", F.lit(-1.0).alias("val"))
    ).set_index("o_orderkey")
    return combine_first(left, right).to_spark()


@query(
    "compare_frames",
    oracle="""
    SELECT o_orderkey,
           o_totalprice          AS val_self,
           o_totalprice + 1.0    AS val_other
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def compare_frames(spark: SparkSession, sf_dir: str) -> SparkDF:
    from pandas_spark.operators.setops import compare

    orders = _t(spark, sf_dir, "orders")
    left = DataFrame(
        orders.spark.select("o_orderkey", F.col("o_totalprice").alias("val"))
    ).set_index("o_orderkey")
    right = DataFrame(
        orders.spark.select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "F", F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("val"),
        )
    ).set_index("o_orderkey")
    return compare(left, right).to_spark()


# ---------------------------------------------------------------------------
# §2.8 more string / datetime functions
# ---------------------------------------------------------------------------

@query(
    "string_ops2",
    oracle=r"""
    SELECT p_partkey,
           lpad(p_brand, 12, '*')                    AS brand_pad,
           trim(p_name)                              AS name_trim,
           regexp_extract(p_type, '^(\S+)', 1)       AS type_head,
           reverse(p_brand)                          AS brand_rev,
           repeat(p_size::VARCHAR, 2)                AS size2,
           strpos(p_name, 'a') - 1                   AS find_a
    FROM part
    """,
)
def string_ops2(spark: SparkSession, sf_dir: str) -> SparkDF:
    part = _t(spark, sf_dir, "part")
    return (
        part.assign(
            brand_pad=col("p_brand").str.pad(12, side="left", fillchar="*"),
            name_trim=col("p_name").str.strip(),
            type_head=col("p_type").str.extract(r"^(\S+)"),
            brand_rev=col("p_brand").str.reverse(),
            size2=col("p_size").astype("string").str.repeat(2),
            find_a=col("p_name").str.find("a"),
        )
        .select(
            ["p_partkey", "brand_pad", "name_trim", "type_head", "brand_rev", "size2", "find_a"]
        )
        .to_spark()
    )


@query(
    "datetime_ops2",
    oracle="""
    SELECT o_orderkey,
           dayofyear(o_orderdate)                  AS doy,
           quarter(o_orderdate)                    AS qtr,
           weekofyear(o_orderdate)                 AS iso_week,
           last_day(o_orderdate)::DATE             AS month_end,
           strftime(o_orderdate, '%Y-%m')          AS ym
    FROM orders
    """,
)
def datetime_ops2(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.assign(
            doy=col("o_orderdate").dt.dayofyear,
            qtr=col("o_orderdate").dt.quarter,
            iso_week=col("o_orderdate").dt.week,
            month_end=col("o_orderdate").dt.month_end,
            ym=col("o_orderdate").dt.strftime("yyyy-MM"),
        )
        .select(["o_orderkey", "doy", "qtr", "iso_week", "month_end", "ym"])
        .to_spark()
    )


# ---------------------------------------------------------------------------
# §2.1 IO round-trips (CSV / JSON sources+sinks through the engine)
# ---------------------------------------------------------------------------

@query(
    "io_csv_roundtrip",
    oracle=f"""
    SELECT l_returnflag, {ESUM('l_quantity')} AS sum_qty, count(*)::BIGINT AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> SparkDF:
    os.makedirs(_SCRATCH, exist_ok=True)
    path = f"{_SCRATCH}/csv_rt"
    lineitem = _t(spark, sf_dir, "lineitem").select(["l_returnflag", "l_quantity"])
    lineitem.to_csv(path)
    back = ps.read_csv(spark, path, header=True)
    return back.groupby("l_returnflag").agg(
        sum_qty=("l_quantity", "sum"), n=("l_quantity", "size")
    ).to_spark()


@query(
    "period_range_spine",
    oracle="""
    WITH s AS (
        SELECT unnest(generate_series(
            TIMESTAMP '1995-01-01', TIMESTAMP '1996-01-01', INTERVAL 1 month))::TIMESTAMP AS period_start
    )
    SELECT period_start, period_start + INTERVAL 1 month AS period_end FROM s
    """,
)
def period_range_spine(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.period_range under the trunc representation (SURVEY §1.3):
    a period is its start timestamp + freq tag."""
    return ps.period_range(spark, "1995-01-15", "1996-01-15", freq="M").to_spark()


@query(
    "interval_range_spine",
    oracle="""
    SELECT 0.0 + i * 2.5 AS "left", 0.0 + (i + 1) * 2.5 AS "right"
    FROM (SELECT unnest(generate_series(0, 19)) AS i)
    """,
)
def interval_range_spine(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.interval_range numeric flavor — 20 equal bins over [0, 50)."""
    return ps.interval_range(spark, 0.0, 50.0, periods=20).to_spark()


@query(
    "argsort_positions",
    oracle="""
    WITH p AS (
        SELECT o_totalprice, row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
        FROM orders
    )
    SELECT row_number() OVER (ORDER BY o_totalprice, pos) - 1 AS rank,
           pos AS argsort
    FROM p
    """,
)
def argsort_positions(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Series.argsort over an explicit declared order (series.py:4166):
    rank r ↦ the position of the r-th smallest o_totalprice."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(["o_orderkey", "o_totalprice"])
        .sort_values("o_orderkey")
        .argsort("o_totalprice")
        .to_spark()
    )


@query(
    "searchsorted_probes",
    oracle="""
    SELECT v AS value, (SELECT count(*) FROM lineitem WHERE l_quantity < v)::BIGINT AS insert_at
    FROM (VALUES (1.0),(10.5),(25.0),(50.0),(51.0)) t(v)
    """,
)
def searchsorted_probes(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Series.searchsorted (series.py:3907) — one conditional-sum agg
    pass for all probes; the input is never sorted or shuffled."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.searchsorted("l_quantity", [1.0, 10.5, 25.0, 50.0, 51.0]).to_spark()


@query(
    "io_orc_roundtrip",
    oracle=f"""
    SELECT p_brand, {ESUM('p_retailprice')} AS total, count(*)::BIGINT AS n
    FROM part GROUP BY p_brand
    """,
)
def io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ORC write→read→agg checked against the parquet-sourced oracle —
    proves the ORC codec path preserves values and types (SURVEY §2.1;
    reference io/orc.py:43 read_orc)."""
    os.makedirs(_SCRATCH, exist_ok=True)
    path = f"{_SCRATCH}/orc_rt"
    part = _t(spark, sf_dir, "part").select(["p_brand", "p_retailprice"])
    part.to_orc(path)
    back = ps.read_orc(spark, path)
    return back.groupby("p_brand").agg(
        total=("p_retailprice", "sum"), n=("p_retailprice", "size")
    ).to_spark()


@query(
    "io_json_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, {ESUM('o_totalprice')} AS total, count(*)::BIGINT AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def io_json_roundtrip(spark: SparkSession, sf_dir: str) -> SparkDF:
    os.makedirs(_SCRATCH, exist_ok=True)
    path = f"{_SCRATCH}/json_rt"
    orders = _t(spark, sf_dir, "orders").select(["o_orderstatus", "o_totalprice"])
    orders.to_json(path)
    back = ps.read_json(spark, path)
    return back.groupby("o_orderstatus").agg(
        total=("o_totalprice", "sum"), n=("o_totalprice", "size")
    ).to_spark()


# ---------------------------------------------------------------------------
# batch 3: merge_ordered, pivot margins, upsample+ffill, UDF surface,
# scalar misc, frame rank, concat axis=1, describe, parse round-trips
# ---------------------------------------------------------------------------

@query(
    "merge_ordered_ffill",
    oracle=f"""
    WITH l AS (
        SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day,
               count(*)::BIGINT AS n_orders
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT date_trunc('day', l_shipdate)::TIMESTAMP AS day,
               {ESUM('l_quantity')} AS qty
        FROM lineitem GROUP BY 1
    )
    SELECT coalesce(l.day, r.day) AS day,
           last_value(l.n_orders IGNORE NULLS) OVER (
               ORDER BY coalesce(l.day, r.day)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_orders,
           last_value(r.qty IGNORE NULLS) OVER (
               ORDER BY coalesce(l.day, r.day)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qty
    FROM l FULL JOIN r ON l.day = r.day
    """,
)
def merge_ordered_ffill(spark: SparkSession, sf_dir: str) -> SparkDF:
    """merge_ordered (merge.py:500): ordered outer join + group ffill."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    left = (
        orders.assign(day=col("o_orderdate").dt.floor("day"))
        .groupby("day")
        .agg(n_orders=("o_orderkey", "size"))
    )
    right = (
        lineitem.assign(day=col("l_shipdate").dt.floor("day"))
        .groupby("day")
        .agg(qty=("l_quantity", "sum"))
    )
    return ps.merge_ordered(left, right, on="day", fill_method="ffill").to_spark()


@query(
    "pivot_margins",
    oracle=f"""
    SELECT l_returnflag,
           {ESUM("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
           {ESUM("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O,
           {ESUM('l_quantity')} AS "All"
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'All',
           {ESUM("CASE WHEN l_linestatus = 'F' THEN l_quantity END")},
           {ESUM("CASE WHEN l_linestatus = 'O' THEN l_quantity END")},
           {ESUM('l_quantity')}
    FROM lineitem
    """,
)
def pivot_margins(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem")
    return ps.pivot_table(
        lineitem,
        values="l_quantity",
        index="l_returnflag",
        columns="l_linestatus",
        aggfunc="sum",
        margins=True,
        column_values=["F", "O"],
    ).to_spark()


@query(
    "resample_offset",
    oracle=f"""
    SELECT (to_timestamp(floor((epoch(ts) - 600) / 900) * 900 + 600))::TIMESTAMP
               AS ts,
           {ESUM('value')} AS value_sum,
           count(value)::BIGINT AS value_count
    FROM events
    GROUP BY 1
    """,
)
def resample_offset(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('15min', offset='10min') — pandas bucket anchoring
    (core/resample.py:2466 origin/offset edges → Spark F.window
    startTime): boundaries land at :10/:25/:40/:55 instead of the
    epoch grid."""
    events = _t(spark, sf_dir, "events")
    from pandas_spark.window import Resampler

    r = Resampler(events, "15min", on="ts", offset="10min")
    return r.agg({"value": ["sum", "count"]}).to_spark()


@query(
    "frame_duplicated",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           row_number() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_orderkey, l_linenumber, l_quantity) > 1 AS duplicated
    FROM lineitem
    WHERE l_orderkey < 2000
    """,
)
def frame_duplicated(spark: SparkSession, sf_dir: str) -> SparkDF:
    """duplicated(keep='first') (frame.py:471 area): flag every row
    after the first per subset key in the declared order — the
    row_number window twin of drop_duplicates (sort keys chosen
    tie-free so the flagged row is deterministic)."""
    li = _t(spark, sf_dir, "lineitem").select(
        ["l_suppkey", "l_orderkey", "l_linenumber", "l_quantity"]
    )
    out = (
        li.filter(col("l_orderkey") < 2000)
        .sort_values(["l_orderkey", "l_linenumber", "l_quantity"])
        .duplicated(subset=["l_suppkey"], keep="first")
    )
    return out.select(
        ["l_suppkey", "l_orderkey", "l_linenumber", "duplicated"]
    ).to_spark()


@query(
    "frame_asof",
    oracle="""
    SELECT event_id, user_id, ts, value
    FROM events
    WHERE ts <= TIMESTAMP '2024-06-01 00:00:00' AND value IS NOT NULL
    ORDER BY ts DESC LIMIT 1
    """,
)
def frame_asof(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.asof (generic.py:8338): last row at-or-before a point
    with non-null subset — filter + TakeOrderedAndProject(1), no
    global sort at any scale."""
    events = _t(spark, sf_dir, "events")
    return events.select(["event_id", "user_id", "ts", "value"]).asof(
        "2024-06-01 00:00:00", on="ts", subset="value"
    ).to_spark()


@query(
    "groupby_cumminmax",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN value IS NOT NULL THEN min(value) OVER w END AS run_min,
           CASE WHEN value IS NOT NULL THEN max(value) OVER w END AS run_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def groupby_cumminmax(spark: SparkSession, sf_dir: str) -> SparkDF:
    """groupby.cummin/cummax (groupby.py:485,493): running extrema per
    key — unbounded-preceding frame, NaN rows stay NaN (pandas cum*
    rule)."""
    events = _t(spark, sf_dir, "events")
    out = (
        events.groupby("user_id")
        .cummin("value", alias="run_min", order_by="event_id")
        .groupby("user_id")
        .cummax("value", alias="run_max", order_by="event_id")
    )
    return out.select(["event_id", "user_id", "run_min", "run_max"]).to_spark()


@query(
    "datetime_flags",
    oracle="""
    SELECT event_id,
           (ts::DATE = last_day(ts::DATE)) AS m_end,
           (day(ts) = 1 AND month(ts) IN (1, 4, 7, 10)) AS q_start,
           (ts::DATE = last_day(ts::DATE) AND month(ts) IN (3, 6, 9, 12)) AS q_end,
           (dayofyear(ts) = 1) AS y_start,
           (month(ts) = 12 AND day(ts) = 31) AS y_end,
           ((year(ts) % 4 = 0 AND year(ts) % 100 <> 0) OR year(ts) % 400 = 0)
               AS leap,
           day(last_day(ts::DATE))::INTEGER AS dim,
           weekofyear(ts)::INTEGER AS iso_week,
           (epoch_us(ts) % 1000000)::INTEGER AS micro
    FROM events
    """,
)
def datetime_flags(spark: SparkSession, sf_dir: str) -> SparkDF:
    """.dt boundary flags (accessors.py:271 DatetimeProperties):
    is_month_end / is_quarter_start/end / is_year_start/end /
    is_leap_year / days_in_month / isocalendar week / microsecond —
    all built-in Catalyst field expressions, map-only."""
    events = _t(spark, sf_dir, "events")
    ts = col("ts")
    return events.assign(
        m_end=ts.dt.is_month_end,
        q_start=ts.dt.is_quarter_start,
        q_end=ts.dt.is_quarter_end,
        y_start=ts.dt.is_year_start,
        y_end=ts.dt.is_year_end,
        leap=ts.dt.is_leap_year,
        dim=ts.dt.days_in_month,
        iso_week=ts.dt.isocalendar_week(),
        micro=ts.dt.microsecond,
    ).select(
        ["event_id", "m_end", "q_start", "q_end", "y_start", "y_end",
         "leap", "dim", "iso_week", "micro"]
    ).to_spark()


@query(
    "string_ops4",
    oracle="""
    SELECT p_partkey,
           ends_with(p_name, 'd') AS e_d,
           regexp_full_match(p_name, '[a-z ]+') AS fm,
           CASE WHEN starts_with(p_name, 'golden')
                THEN p_name[7:] ELSE p_name END AS noprefix,
           CASE WHEN ends_with(p_name, 'd')
                THEN p_name[1:length(p_name)-1] ELSE p_name END AS nosuffix,
           CASE WHEN length(p_name) >= 30 THEN p_name
                ELSE rpad(p_name, 30, '.') END AS lj,
           CASE WHEN length(p_name) >= 30 THEN p_name
                ELSE lpad(p_name, 30, '.') END AS rj,
           trim(LEADING 'golden' FROM p_name) AS lst,
           array_to_string(
               list_transform(string_split(p_name, ' '),
                   w -> CASE WHEN length(w) = 0 THEN w
                        ELSE upper(w[1]) || lower(w[2:]) END),
               ' ') AS ttl
    FROM part
    """,
)
def string_ops4(spark: SparkSession, sf_dir: str) -> SparkDF:
    """String tail batch 4 (strings accessor): endswith, fullmatch,
    removeprefix/removesuffix, ljust/rjust (pandas no-truncate rule),
    lstrip(chars), title — all built-in Catalyst string expressions."""
    part = _t(spark, sf_dir, "part")
    s = col("p_name")
    return part.assign(
        e_d=s.str.endswith("d"),
        fm=s.str.fullmatch("[a-z ]+"),
        noprefix=s.str.removeprefix("golden"),
        nosuffix=s.str.removesuffix("d"),
        lj=s.str.ljust(30, "."),
        rj=s.str.rjust(30, "."),
        lst=s.str.lstrip("golden"),
        ttl=s.str.title(),
    ).select(
        ["p_partkey", "e_d", "fm", "noprefix", "nosuffix", "lj", "rj", "lst", "ttl"]
    ).to_spark()


@query(
    "resample_ohlc",
    oracle="""
    SELECT date_trunc('hour', ts)::TIMESTAMP AS ts,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close
    FROM events
    GROUP BY 1
    """,
)
def resample_ohlc(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('1h').ohlc() (core/resample.py ohlc): per-bucket
    open/high/low/close by event time — first/last window over the
    bucket plus min/max aggregates, one shuffle."""
    events = _t(spark, sf_dir, "events")
    from pandas_spark.window import Resampler

    return Resampler(events, "1h", on="ts").ohlc("value").to_spark()


@query(
    "upsample_ffill",
    oracle=f"""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS ts, {ESUM('value')} AS value_sum
        FROM events GROUP BY 1
    ),
    bounds AS (
        SELECT to_timestamp(floor(epoch(min(ts)) / 900) * 900) AS lo,
               to_timestamp(floor(epoch(max(ts)) / 900) * 900) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '15 minutes')) AS ts FROM bounds
    )
    SELECT spine.ts::TIMESTAMP AS ts,
           last_value(agg.value_sum IGNORE NULLS) OVER (
               ORDER BY spine.ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum
    FROM spine LEFT JOIN agg ON spine.ts = agg.ts
    """,
)
def upsample_ffill(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Upsample to a dense 15-min spine + forward fill (resample
    asfreq/ffill, resample.py:612): sequence+explode spine, left join,
    last(ignorenulls) window."""
    events = _t(spark, sf_dir, "events")
    r = events.resample("15min", on="ts")
    agg = r.agg({"value": ["sum"]})
    spine = r.asfreq_spine()
    dense = ps.merge(spine, agg, on="ts", how="left")
    return dense.sort_values("ts").ffill(subset=["value_sum"]).to_spark()


@query(
    "groupby_apply_pandas",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    QUALIFY row_number() OVER (
        PARTITION BY l_returnflag
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 2
    """,
)
def groupby_apply_pandas(spark: SparkSession, sf_dir: str) -> SparkDF:
    """groupby.apply as Arrow-batched applyInPandas (SURVEY §2.11 —
    'exact model match'): arbitrary per-group pandas code, schema out."""
    lineitem = _t(spark, sf_dir, "lineitem").select(
        ["l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"]
    )

    def top2(pdf):
        return pdf.sort_values(
            ["l_extendedprice", "l_orderkey", "l_linenumber"],
            ascending=[False, True, True],
        ).head(2)

    return (
        lineitem.groupby("l_returnflag")
        .apply_in_pandas(
            top2,
            "l_returnflag string, l_orderkey long, l_linenumber int, l_extendedprice double",
        )
        .to_spark()
    )


@query(
    "scalar_misc",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority IN ('1-URGENT', '2-HIGH')            AS is_urgent,
           greatest(least(o_totalprice, 200000.0), 50000.0)     AS price_clip,
           CASE WHEN o_orderstatus = 'F' THEN NULL
                ELSE o_totalprice END                           AS price_masked,
           CASE o_orderstatus WHEN 'F' THEN 'FINISHED'
                WHEN 'O' THEN 'OPEN' ELSE o_orderstatus END     AS status_long
    FROM orders
    """,
)
def scalar_misc(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.assign(
            is_urgent=col("o_orderpriority").isin(["1-URGENT", "2-HIGH"]),
            price_clip=col("o_totalprice").clip(50000.0, 200000.0),
            price_masked=col("o_totalprice").mask(col("o_orderstatus") == "F"),
        )
        .replace({"F": "FINISHED", "O": "OPEN"}, subset=["o_orderstatus"])
        .rename({"o_orderstatus": "status_long"})
    )
    return out.select(
        ["o_orderkey", "is_urgent", "price_clip", "price_masked", "status_long"]
    ).to_spark()


@query(
    "frame_rank_pct",
    oracle="""
    SELECT o_orderkey,
           (rank() OVER (ORDER BY o_totalprice)
            + (count(*) OVER (PARTITION BY o_totalprice) - 1) / 2.0)
           / count(*) OVER () AS price_pct
    FROM orders
    """,
)
def frame_rank_pct(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rank("o_totalprice", method="average", pct=True, alias="price_pct")
        .select(["o_orderkey", "price_pct"])
        .to_spark()
    )


@query(
    "concat_axis1",
    oracle=f"""
    WITH a AS (SELECT o_custkey, count(*)::BIGINT AS n_orders FROM orders GROUP BY 1),
         b AS (SELECT o_custkey, {ESUM('o_totalprice')} AS total
               FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
    SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey, a.n_orders, b.total
    FROM a FULL JOIN b ON a.o_custkey = b.o_custkey
    """,
)
def concat_axis1(spark: SparkSession, sf_dir: str) -> SparkDF:
    """concat(axis=1) = outer join on the explicit index (SURVEY §2.7)."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.groupby("o_custkey").agg(n_orders=("o_orderkey", "size")).set_index("o_custkey")
    b = (
        orders.filter(col("o_orderstatus") == "F")
        .groupby("o_custkey")
        .agg(total=("o_totalprice", "sum"))
        .set_index("o_custkey")
    )
    return ps.concat([a, b], axis=1).to_spark()


@query(
    "groupby_describe",
    oracle=f"""
    SELECT o_orderpriority,
           count(o_totalprice)::BIGINT        AS count,
           {EAVG('o_totalprice')}             AS mean,
           {ESTD('o_totalprice')}             AS std,
           min(o_totalprice)                  AS min,
           quantile_cont(o_totalprice, 0.25)  AS p25,
           quantile_cont(o_totalprice, 0.5)   AS p50,
           quantile_cont(o_totalprice, 0.75)  AS p75,
           max(o_totalprice)                  AS max
    FROM orders GROUP BY o_orderpriority
    """,
)
def groupby_describe(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupby("o_orderpriority").describe("o_totalprice").to_spark()


@query(
    "parse_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderdate::TIMESTAMP AS parsed_date,
           o_orderkey::DOUBLE     AS parsed_num,
           NULL::DOUBLE           AS bad_num
    FROM orders
    """,
)
def parse_roundtrip(spark: SparkSession, sf_dir: str) -> SparkDF:
    """to_datetime / to_numeric parsing (tools/datetimes.py:767,
    tools/numeric.py:51): format strings back to typed values;
    errors='coerce' yields NULL (try_cast), not an exception."""
    orders = _t(spark, sf_dir, "orders")
    out = orders.assign(
        date_str=col("o_orderdate").dt.strftime("yyyy-MM-dd HH:mm:ss"),
        num_str=col("o_orderkey").astype("string"),
    ).assign(
        parsed_date=lambda df: ps.to_datetime(df["date_str"]),
        parsed_num=lambda df: ps.to_numeric(df["num_str"]),
        bad_num=lambda df: ps.to_numeric(df["o_orderpriority"], errors="coerce"),
    )
    return out.select(["o_orderkey", "parsed_date", "parsed_num", "bad_num"]).to_spark()


@query(
    "sample_frac",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE ('0x' || substr(md5('42' || o_orderkey::VARCHAR), 1, 8))::UBIGINT % 10000 < 1000
    """,
)
def sample_frac(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Deterministic 10% sample by id-hash bucket (generic.py:6056
    sample) — reproducible across reruns/retries/engines, map-only."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.sample(frac=0.1, seed=42, id_col="o_orderkey")
        .select(["o_orderkey", "o_totalprice"])
        .to_spark()
    )


# ---------------------------------------------------------------------------
# batch 4: interpolate, ohlc, corr/cov, mode, row-set ops, tz
# ---------------------------------------------------------------------------

@query(
    "interpolate_linear",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'purchase' THEN value END AS pv,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events
    ),
    m AS (
        SELECT *,
               last_value(pv IGNORE NULLS) OVER wp AS prev_v,
               first_value(pv IGNORE NULLS) OVER wn AS next_v,
               last_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS prev_r,
               first_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS next_r
        FROM s
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           CASE WHEN pv IS NOT NULL THEN pv
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                     THEN prev_v + (next_v - prev_v) * (rn - prev_r) / (next_r - prev_r)
                ELSE prev_v END AS pv
    FROM m
    """,
)
def interpolate_linear(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Linear interpolate of interior NULLs per user (generic.py:8113) —
    prev/next window expressions, no UDF."""
    events = _t(spark, sf_dir, "events")
    sparse = DataFrame(
        events.spark.withColumn(
            "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
        )
    ).sort_values("event_id")
    out = sparse.interpolate(subset=["pv"], by=["user_id"])
    return out.select(["event_id", "user_id", "pv"]).to_spark()


@query(
    "interpolate_time",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'purchase' THEN value END AS pv,
               epoch_us(ts) / 1000000.0 AS x,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    m AS (
        SELECT *,
               last_value(pv IGNORE NULLS) OVER wp AS prev_v,
               first_value(pv IGNORE NULLS) OVER wn AS next_v,
               last_value(CASE WHEN pv IS NOT NULL THEN x END IGNORE NULLS) OVER wp AS prev_x,
               first_value(CASE WHEN pv IS NOT NULL THEN x END IGNORE NULLS) OVER wn AS next_x
        FROM s
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           CASE WHEN pv IS NOT NULL THEN pv
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                     coalesce(prev_v + (next_v - prev_v)
                              * CASE WHEN next_x <> prev_x
                                     THEN (x - prev_x) / (next_x - prev_x) END,
                              prev_v)
                ELSE prev_v END AS pv
    FROM m
    """,
)
def interpolate_time(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Time-weighted interpolate (reference core/missing.py:227
    clean_interp_method, method='time'): interior NULLs fill
    proportionally to the event-time gap, not the row count."""
    events = _t(spark, sf_dir, "events")
    sparse = DataFrame(
        events.spark.withColumn(
            "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
        )
    ).sort_values("event_id")
    out = sparse.interpolate(subset=["pv"], by=["user_id"], method="time", on="ts")
    return out.select(["event_id", "user_id", "pv"]).to_spark()


@query(
    "groupby_ohlc",
    oracle="""
    SELECT user_id,
           arg_min(value, event_id) AS open,
           max(value)               AS high,
           min(value)               AS low,
           arg_max(value, event_id) AS close
    FROM events GROUP BY user_id
    """,
)
def groupby_ohlc(spark: SparkSession, sf_dir: str) -> SparkDF:
    events = _t(spark, sf_dir, "events")
    return events.groupby("user_id").ohlc("value", order_by="event_id").to_spark()


@query(
    "groupby_corr_cov",
    oracle=f"""
    SELECT l_returnflag,
           {ECORR('l_quantity', 'l_extendedprice')} AS corr,
           {ECOV('l_quantity', 'l_extendedprice')}  AS cov
    FROM lineitem GROUP BY l_returnflag
    """,
)
def groupby_corr_cov(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem")
    c1 = lineitem.groupby("l_returnflag").corr("l_quantity", "l_extendedprice")
    c2 = lineitem.groupby("l_returnflag").cov("l_quantity", "l_extendedprice")
    return ps.merge(c1, c2, on="l_returnflag", how="inner").to_spark()


@query(
    "frame_quantiles",
    oracle="""
    SELECT 0.25::DOUBLE AS q, quantile_cont(l_quantity, 0.25) AS l_quantity,
           quantile_cont(l_extendedprice, 0.25) AS l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT 0.5::DOUBLE, quantile_cont(l_quantity, 0.5), quantile_cont(l_extendedprice, 0.5)
    FROM lineitem
    UNION ALL
    SELECT 0.75::DOUBLE, quantile_cont(l_quantity, 0.75), quantile_cont(l_extendedprice, 0.75)
    FROM lineitem
    """,
)
def frame_quantiles(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Frame-level multi-q quantile — one agg pass for all (col, q)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.quantile(
        [0.25, 0.5, 0.75], subset=["l_quantity", "l_extendedprice"]
    ).to_spark()


@query(
    "pivot_multi_agg",
    oracle=f"""
    SELECT o_orderpriority,
           {ESUM("CASE WHEN o_orderstatus='F' THEN o_totalprice END")} AS F_o_totalprice_sum,
           count(CASE WHEN o_orderstatus='F' THEN o_totalprice END)::BIGINT AS F_o_totalprice_count,
           {ESUM("CASE WHEN o_orderstatus='O' THEN o_totalprice END")} AS O_o_totalprice_sum,
           count(CASE WHEN o_orderstatus='O' THEN o_totalprice END)::BIGINT AS O_o_totalprice_count,
           {ESUM("CASE WHEN o_orderstatus='P' THEN o_totalprice END")} AS P_o_totalprice_sum,
           count(CASE WHEN o_orderstatus='P' THEN o_totalprice END)::BIGINT AS P_o_totalprice_count
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pivot_table with aggfunc=list (pandas multi-agg pivot) — one
    groupBy.pivot pass, every (value, fn) pair an aggregate column."""
    from pandas_spark.operators.reshape import pivot_table

    orders = _t(spark, sf_dir, "orders")
    return pivot_table(
        orders, values="o_totalprice", index="o_orderpriority",
        columns="o_orderstatus", aggfunc=["sum", "count"],
        column_values=["F", "O", "P"],
    ).to_spark()


@query(
    "frame_idx_mode",
    oracle="""
    SELECT
      (SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) AS idxmax_o_totalprice,
      (SELECT o_orderkey FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 1)  AS idxmin_o_totalprice,
      (SELECT min(l_quantity) FROM (
          SELECT l_quantity, count(*) AS c,
                 max(count(*)) OVER () AS m
          FROM lineitem GROUP BY l_quantity) WHERE c = m)                            AS mode_qty
    """,
)
def frame_idx_mode(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Frame-level idxmax/idxmin (single min_by aggs, map-side partial)
    and mode (groupBy + broadcast max) — frame.py:12429, series.py:2094."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    a = orders.idxmax("o_totalprice", "o_orderkey").to_spark()
    b = orders.idxmin("o_totalprice", "o_orderkey").to_spark()
    m = lineitem.mode("l_quantity").to_spark().agg(
        F.min("l_quantity").alias("mode_qty")
    )
    return a.crossJoin(b).crossJoin(m)


@query(
    "groupby_spearman",
    oracle=f"""
    WITH r AS (
        SELECT l_returnflag,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                 + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0 AS rx,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                 + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0 AS ry
        FROM lineitem
    )
    SELECT l_returnflag, {ECORR('rx', 'ry')} AS corr FROM r GROUP BY l_returnflag
    """,
)
def groupby_spearman(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-group Spearman: keyed average-rank windows (scale-correct,
    unlike the documented single-partition frame-level variant) then
    exact Pearson on ranks."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupby("l_returnflag")
        .corr("l_quantity", "l_extendedprice", method="spearman")
        .to_spark()
    )


@query(
    "mode_agg",
    oracle="""
    SELECT o_orderpriority,
           min(m) AS mode_qty
    FROM (
        SELECT o_orderpriority, l_quantity AS m,
               count(*) AS c,
               max(count(*)) OVER (PARTITION BY o_orderpriority) AS mx
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority, l_quantity
    )
    WHERE c = mx
    GROUP BY o_orderpriority
    """,
)
def mode_agg(spark: SparkSession, sf_dir: str) -> SparkDF:
    """mode (algorithms.py:1149): most frequent value, ties -> smallest
    (count+max-tie window, not Spark's nondeterministic F.mode)."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    j = orders.merge(lineitem, left_on="o_orderkey", right_on="l_orderkey")
    counted = (
        j.groupby(["o_orderpriority", "l_quantity"])
        .agg(c=("l_quantity", "size"))
    )
    from pyspark.sql import Window as W

    w = F.max("c").over(W.partitionBy("o_orderpriority"))
    out = (
        counted.to_spark()
        .withColumn("mx", w)
        .filter(F.col("c") == F.col("mx"))
        .groupBy("o_orderpriority")
        .agg(F.min("l_quantity").alias("mode_qty"))
    )
    return out


@query(
    "setops_rows",
    oracle="""
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
         f  AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT 'intersect' AS op, count(*)::BIGINT AS n
    FROM (SELECT DISTINCT o_custkey FROM hi INTERSECT SELECT DISTINCT o_custkey FROM f)
    UNION ALL
    SELECT 'except', count(*)::BIGINT
    FROM (SELECT DISTINCT o_custkey FROM hi EXCEPT SELECT DISTINCT o_custkey FROM f)
    UNION ALL
    SELECT 'union', count(*)::BIGINT
    FROM (SELECT o_custkey FROM hi UNION SELECT o_custkey FROM f)
    """,
)
def setops_rows(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Index set algebra (indexes/base.py:3150): union/intersection/
    difference on key frames via Spark's native set operators."""
    orders = _t(spark, sf_dir, "orders")
    hi = orders.filter(col("o_totalprice") > 150000).select(["o_custkey"]).to_spark()
    f = orders.filter(col("o_orderstatus") == "F").select(["o_custkey"]).to_spark()
    rows = [
        ("intersect", hi.distinct().intersect(f.distinct()).count()),
        ("except", hi.distinct().exceptAll(f.distinct()).count()),
        ("union", hi.union(f).distinct().count()),
    ]
    return spark.createDataFrame(rows, "op string, n long")


@query(
    "tz_convert",
    oracle="""
    SELECT o_orderkey,
           o_orderdate AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York' AS ny_time,
           hour(o_orderdate AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York') AS ny_hour
    FROM orders
    """,
)
def tz_convert(spark: SparkSession, sf_dir: str) -> SparkDF:
    """tz_localize('UTC').tz_convert('America/New_York')
    (generic.py:11263,11161) -> from_utc_timestamp."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.assign(ny_time=col("o_orderdate").dt.tz_convert("America/New_York"))
        .assign(ny_hour=lambda df: df["ny_time"].dt.hour)
        .select(["o_orderkey", "ny_time", "ny_hour"])
        .to_spark()
    )


# ---------------------------------------------------------------------------
# batch 5: skew-resilient and co-located join strategies (SCALE.md)
# ---------------------------------------------------------------------------

@query(
    "join_salted",
    oracle=f"""
    SELECT o_orderpriority, count(*)::BIGINT AS n, {ESUM('l_quantity')} AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Salted equi-join (explicit heavy-hitter defense) — row-identical
    to the plain join, verified against the plain-join oracle."""
    from pandas_spark.operators.joins import salted_join

    lineitem = _t(spark, sf_dir, "lineitem").rename({"l_orderkey": "o_orderkey"})
    orders = _t(spark, sf_dir, "orders")
    j = salted_join(lineitem, orders, "o_orderkey", salt=8)
    return (
        j.groupby("o_orderpriority")
        .agg(n=("o_orderkey", "size"), qty=("l_quantity", "sum"))
        .to_spark()
    )


@query(
    "join_bucketed",
    oracle=f"""
    SELECT o_orderpriority, count(*)::BIGINT AS n, {ESUM('l_quantity')} AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Co-located join over bucketed tables: the join itself plans with
    no Exchange (pay the bucketing shuffle once at write time — the
    repeated-join pattern at 100 TB)."""
    from pandas_spark.operators.joins import bucketed_join

    lineitem = _t(spark, sf_dir, "lineitem").rename({"l_orderkey": "o_orderkey"}).select(
        ["o_orderkey", "l_quantity"]
    )
    orders = _t(spark, sf_dir, "orders").select(["o_orderkey", "o_orderpriority"])
    j = bucketed_join(spark, lineitem, orders, "o_orderkey", buckets=8)
    return (
        j.groupby("o_orderpriority")
        .agg(n=("o_orderkey", "size"), qty=("l_quantity", "sum"))
        .to_spark()
    )


# ---------------------------------------------------------------------------
# batch 6: sliding windows (batch==stream op), wide_to_long,
# json_normalize, from_dummies, value_counts normalize, nlargest keep=all
# ---------------------------------------------------------------------------

@query(
    "sliding_window_2h1h",
    oracle=f"""
    SELECT ws::TIMESTAMP AS window_start,
           (ws + INTERVAL 2 hour)::TIMESTAMP AS window_end,
           count(value)::BIGINT AS value_count,
           {ESUM('value')} AS value_sum
    FROM (
        SELECT time_bucket(INTERVAL '1 hour', ts) - to_seconds(i * 3600) AS ws, value
        FROM events, range(2) t(i)
    )
    GROUP BY ws
    """,
)
def sliding_window_2h1h(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Overlapping 2h/1h windows — every event lands in 2 windows; the
    SAME function runs under readStream with a watermark
    (streaming/core.py, SURVEY §2.10)."""
    from pandas_spark.streaming import sliding_window_stream

    events = _t(spark, sf_dir, "events")
    return sliding_window_stream(
        events.spark, size="2h", slide="1h", on="ts", spec={"value": ["count", "sum"]}
    )


@query(
    "wide_to_long_stubs",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'base' AS kind, l_extendedprice AS price, l_quantity AS qty
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'disc',
           l_extendedprice * (1 - l_discount), l_quantity
    FROM lineitem
    """,
)
def wide_to_long_stubs(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem")
    wide = lineitem.assign(
        price_base=col("l_extendedprice"),
        price_disc=col("l_extendedprice") * (1 - col("l_discount")),
        qty_base=col("l_quantity"),
        qty_disc=col("l_quantity"),
    ).select(["l_orderkey", "l_linenumber", "price_base", "price_disc", "qty_base", "qty_disc"])
    return ps.wide_to_long(
        wide, ["price", "qty"], i=["l_orderkey", "l_linenumber"], j="kind", sep="_"
    ).to_spark()


@query(
    "json_normalize_struct",
    oracle="""
    SELECT event_id, user_id AS "u.user_id", event_type AS "u.event_type"
    FROM events
    """,
)
def json_normalize_struct(spark: SparkSession, sf_dir: str) -> SparkDF:
    events = _t(spark, sf_dir, "events")
    nested = DataFrame(
        events.spark.select(
            "event_id", F.struct("user_id", "event_type").alias("u")
        )
    )
    return ps.json_normalize(nested, "u").to_spark()


@query(
    "from_dummies_invert",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag AS flag
    FROM lineitem
    """,
)
def from_dummies_invert(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem").select(
        ["l_orderkey", "l_linenumber", "l_returnflag"]
    )
    dummies = ps.get_dummies(
        lineitem, ["l_returnflag"], prefix_sep="=", categories={"l_returnflag": ["A", "N", "R"]}
    )
    return ps.from_dummies(dummies, "l_returnflag", prefix_sep="=", alias="flag").to_spark()


@query(
    "value_counts_normalize",
    oracle="""
    SELECT o_orderpriority,
           count(*) / (SELECT count(*) FROM orders)::DOUBLE AS proportion
    FROM orders GROUP BY o_orderpriority
    """,
)
def value_counts_normalize(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    return orders.value_counts("o_orderpriority", normalize=True, sort=False).to_spark()


@query(
    "nlargest_keep_all",
    oracle="""
    SELECT l_suppkey, l_quantity
    FROM lineitem
    QUALIFY rank() OVER (ORDER BY l_quantity DESC) <= 5
    """,
)
def nlargest_keep_all(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem").select(["l_suppkey", "l_quantity"])
    return lineitem.nlargest(5, "l_quantity", keep="all").to_spark()


# ---------------------------------------------------------------------------
# batch 7: dict map, between_time, per-group head, factorize
# ---------------------------------------------------------------------------

@query(
    "map_dict",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE l_returnflag WHEN 'A' THEN 'accepted' WHEN 'R' THEN 'returned' END
               AS flag_label,
           CASE l_linestatus WHEN 'F' THEN 'final' WHEN 'O' THEN 'open'
                ELSE 'unknown' END AS status_label
    FROM lineitem
    """,
)
def map_dict(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Series.map(dict) → literal map lookup (no UDF); missing keys →
    NULL, or ``default`` (pandas fillna-after-map idiom)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.assign(
            flag_label=col("l_returnflag").map({"A": "accepted", "R": "returned"}),
            status_label=col("l_linestatus").map(
                {"F": "final", "O": "open"}, default="unknown"
            ),
        )
        .select(["l_orderkey", "l_linenumber", "flag_label", "status_label"])
        .to_spark()
    )


@query(
    "between_time_filter",
    oracle="""
    SELECT event_id, ts, value FROM events
    WHERE CAST(ts AS TIME) BETWEEN TIME '09:00:00' AND TIME '17:00:00'
    """,
)
def between_time_filter(spark: SparkSession, sf_dir: str) -> SparkDF:
    events = _t(spark, sf_dir, "events")
    return (
        events.between_time("09:00", "17:00", on="ts")
        .select(["event_id", "ts", "value"])
        .to_spark()
    )


@query(
    "groupby_head",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) <= 3
    """,
)
def groupby_head(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").select(["o_custkey", "o_orderkey", "o_totalprice"])
    return orders.groupby("o_custkey").head(3, order_by="o_orderkey").to_spark()


@query(
    "factorize_codes",
    oracle="""
    SELECT o_orderkey,
           dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS priority_code
    FROM orders
    """,
)
def factorize_codes(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.factorize (algorithms.py:804): dense integer codes over the
    sorted distinct values (dictionary encoding as an expression)."""
    orders = _t(spark, sf_dir, "orders")
    out = orders.groupby("o_orderpriority").ngroup(alias="priority_code")
    return (
        out.select(["o_orderkey", "priority_code"])
        .to_spark()
        .withColumn("priority_code", F.col("priority_code").cast("long"))
    )


# ---------------------------------------------------------------------------
# batch 8: pct_change, cumprod, rolling std, grouped any/all, ordered
# first/last
# ---------------------------------------------------------------------------

@query(
    "groupby_pct_change",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / lag(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1
               AS price_pct_change
    FROM orders
    """,
)
def groupby_pct_change(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").sort_values(["o_orderdate", "o_orderkey"])
    out = orders.groupby("o_custkey").pct_change("o_totalprice", alias="price_pct_change")
    return out.select(["o_orderkey", "price_pct_change"]).to_spark()


@query(
    "groupby_cumprod",
    oracle="""
    SELECT event_id,
           product(1.0 + value / 1000.0) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS growth
    FROM events
    """,
)
def groupby_cumprod(spark: SparkSession, sf_dir: str) -> SparkDF:
    """cumprod via exp(Σ log|x|) with sign/zero bookkeeping — a
    partial-aggregable expression, no recursive state."""
    events = _t(spark, sf_dir, "events")
    scaled = DataFrame(
        events.spark.withColumn("growth", 1.0 + F.col("value") / 1000.0)
    ).sort_values("event_id")
    out = scaled.groupby("user_id").cumprod("growth")
    return out.select(["event_id", "growth"]).to_spark()


@query(
    "rolling_std_minp",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(value) OVER w >= 3 THEN stddev_samp(value) OVER w END
               AS value_std
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_std_minp(spark: SparkSession, sf_dir: str) -> SparkDF:
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 10, on="event_id", by=["user_id"], min_periods=3)
    return r.std("value", alias="value_std").select(
        ["event_id", "user_id", "value_std"]
    ).to_spark()


@query(
    "groupby_any_all",
    oracle="""
    SELECT o_custkey,
           bool_or(o_totalprice > 300000)  AS any_big,
           bool_and(o_totalprice > 1000)   AS all_nontrivial
    FROM orders GROUP BY o_custkey
    """,
)
def groupby_any_all(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    flagged = orders.assign(
        any_big=col("o_totalprice") > 300000,
        all_nontrivial=col("o_totalprice") > 1000,
    ).select(["o_custkey", "any_big", "all_nontrivial"])
    return flagged.groupby("o_custkey").agg(
        any_big=("any_big", "any"), all_nontrivial=("all_nontrivial", "all")
    ).to_spark()


@query(
    "groupby_first_last_ordered",
    oracle="""
    WITH f AS (
        SELECT o_custkey, o_orderkey AS first_order
        FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
    ),
    l AS (
        SELECT o_custkey, o_orderkey AS last_order
        FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    )
    SELECT f.o_custkey, f.first_order, l.last_order FROM f JOIN l USING (o_custkey)
    """,
)
def groupby_first_last_ordered(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Order-deterministic first/last (pandas group_nth/group_last —
    Spark's agg first() is order-nondeterministic, so these compile to
    row_number windows over the declared order, SURVEY §2.4)."""
    orders = _t(spark, sf_dir, "orders").sort_values(["o_orderdate", "o_orderkey"])
    first = (
        orders.groupby("o_custkey").first()
        .select(["o_custkey", "o_orderkey"])
        .rename({"o_orderkey": "first_order"})
    )
    last = (
        orders.groupby("o_custkey").last()
        .select(["o_custkey", "o_orderkey"])
        .rename({"o_orderkey": "last_order"})
    )
    return ps.merge(first, last, on="o_custkey", how="inner").to_spark()


# ---------------------------------------------------------------------------
# batch 9: dt ceil/round, string predicates/case ops, date_range spine,
# LSH top-k (rows-only)
# ---------------------------------------------------------------------------

@query(
    "datetime_ceil_round",
    oracle="""
    SELECT event_id,
           date_trunc('hour', ts)::TIMESTAMP AS ts_floor,
           CASE WHEN ts = date_trunc('hour', ts) THEN ts
                ELSE date_trunc('hour', ts) + INTERVAL 1 hour END::TIMESTAMP AS ts_ceil
    FROM events
    """,
)
def datetime_ceil_round(spark: SparkSession, sf_dir: str) -> SparkDF:
    events = _t(spark, sf_dir, "events")
    return (
        events.assign(
            ts_floor=col("ts").dt.floor("h"),
            ts_ceil=col("ts").dt.ceil("hour"),
        )
        .select(["event_id", "ts_floor", "ts_ceil"])
        .to_spark()
    )


@query(
    "string_predicates",
    oracle="""
    SELECT p_partkey,
           regexp_matches(p_brand, '^[a-zA-Z0-9]+$')       AS alnum,
           regexp_matches(p_name, '^[a-z ]+$')             AS lower_alpha,
           upper(left(p_name, 1)) || substr(lower(p_name), 2) AS capitalized,
           regexp_matches(p_type, '^STANDARD')             AS std_match
    FROM part
    """,
)
def string_predicates(spark: SparkSession, sf_dir: str) -> SparkDF:
    part = _t(spark, sf_dir, "part")
    return (
        part.assign(
            alnum=col("p_brand").str.isalnum(),
            lower_alpha=col("p_name").str.contains(r"^[a-z ]+$"),
            capitalized=col("p_name").str.capitalize(),
            std_match=col("p_type").str.match("STANDARD"),
        )
        .select(["p_partkey", "alnum", "lower_alpha", "capitalized", "std_match"])
        .to_spark()
    )


@query(
    "date_range_spine",
    oracle="""
    SELECT unnest(generate_series(
        TIMESTAMP '1995-01-01', TIMESTAMP '1995-03-01', INTERVAL 1 day))::TIMESTAMP AS ts
    """,
)
def date_range_spine(spark: SparkSession, sf_dir: str) -> SparkDF:
    return ps.date_range(spark, "1995-01-01", "1995-03-01", freq="D").to_spark()


@query(
    "sim_topk_lsh",
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
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Banded-LSH approximate top-k checked against the EXACT top-k
    oracle: with (bands=24, rows=3) per-neighbor candidate probability
    exceeds 1-(1-p^3)^24 ≈ 0.999 at cosine 0.4, and on this corpus the
    candidate set provably contains every exact top-10 neighbor, so the
    reranked output equals the exact answer (recall oracle — the LSH
    path loses candidates, never reorders survivors)."""
    from pandas_spark.operators import similarity

    emb = ps.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    emb = DataFrame(emb.spark.withColumn("embedding", F.col("embedding").cast("array<double>")))
    queries = DataFrame(
        emb.spark.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
    )
    out = similarity.cosine_topk_lsh(
        emb, queries, k=10, id_col="vec_id", vec_col="embedding", dim=64, bands=24, rows=3
    )
    return out.to_spark().withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# batch 10: rollup/cube grouping sets, plain pivot
# ---------------------------------------------------------------------------

@query(
    "rollup_subtotals",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {ESUM('l_quantity')} AS l_quantity_sum,
           count(l_quantity)::BIGINT AS l_quantity_count
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_subtotals(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SQL ROLLUP — the one-pass generalization of pivot_table margins
    (SURVEY §2.4: Spark gives grouping sets for free)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupby(["l_returnflag", "l_linestatus"])
        .rollup({"l_quantity": ["sum", "count"]})
        .to_spark()
    )


@query(
    "cube_subtotals",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, {ESUM('o_totalprice')} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_subtotals(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupby(["o_orderstatus", "o_orderpriority"])
        .cube(total=("o_totalprice", "sum"))
        .to_spark()
    )


@query(
    "pivot_plain",
    oracle="""
    SELECT o_orderkey,
           max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS F,
           max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS O,
           max(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS P
    FROM orders GROUP BY o_orderkey
    """,
)
def pivot_plain(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.pivot (spread, no aggregation — unique cells)."""
    from pandas_spark.operators.reshape import pivot

    orders = _t(spark, sf_dir, "orders")
    return pivot(orders.select(["o_orderkey", "o_orderstatus", "o_totalprice"]),
                 index="o_orderkey", columns="o_orderstatus", values="o_totalprice").to_spark()


@query(
    "pivot_strict",
    oracle="""
    SELECT o_orderkey,
           max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS F,
           max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS O,
           max(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS P
    FROM orders GROUP BY o_orderkey
    """,
)
def pivot_strict(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.pivot with pandas' duplicate check (reshape/pivot.py:747
    raise-on-dup): verifies cell uniqueness before spreading —
    (o_orderkey, o_orderstatus) is unique, so this succeeds; the
    raise path is unit-tested."""
    from pandas_spark.operators.reshape import pivot

    orders = _t(spark, sf_dir, "orders")
    return pivot(orders.select(["o_orderkey", "o_orderstatus", "o_totalprice"]),
                 index="o_orderkey", columns="o_orderstatus", values="o_totalprice",
                 strict=True).to_spark()


@query(
    "frame_mode_multi",
    oracle="""
    WITH long AS (
        SELECT 'o_orderstatus' AS col_name, o_orderstatus::VARCHAR AS value
        FROM orders WHERE o_orderstatus IS NOT NULL
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority::VARCHAR
        FROM orders WHERE o_orderpriority IS NOT NULL
    ),
    c AS (SELECT col_name, value, count(*) AS n FROM long GROUP BY col_name, value)
    SELECT col_name, value FROM c
    QUALIFY n = max(n) OVER (PARTITION BY col_name)
    """,
)
def frame_mode_multi(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Frame-wide per-column mode (frame.py:18792) in long form —
    one scan, one shuffle, all tie values."""
    orders = _t(spark, sf_dir, "orders")
    return orders.mode(["o_orderstatus", "o_orderpriority"]).to_spark()


# ---------------------------------------------------------------------------
# batch 11: frame describe, per-group resample
# ---------------------------------------------------------------------------

@query(
    "frame_describe",
    oracle=f"""
    SELECT 'l_quantity' AS column,
           count(l_quantity)::DOUBLE AS count, {EAVG('l_quantity')} AS mean,
           {ESTD('l_quantity')} AS std, min(l_quantity)::DOUBLE AS min,
           quantile_cont(l_quantity, 0.25) AS p25, quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75, max(l_quantity)::DOUBLE AS max
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           count(l_discount)::DOUBLE, {EAVG('l_discount')}, {ESTD('l_discount')},
           min(l_discount)::DOUBLE, quantile_cont(l_discount, 0.25),
           quantile_cont(l_discount, 0.5), quantile_cont(l_discount, 0.75),
           max(l_discount)::DOUBLE
    FROM lineitem
    """,
)
def frame_describe(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.describe(subset=["l_quantity", "l_discount"]).to_spark()


@query(
    "groupby_resample",
    oracle=f"""
    SELECT user_id, time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS ts,
           {ESUM('value')} AS value_sum, count(value)::BIGINT AS value_count
    FROM events GROUP BY 1, 2
    """,
)
def groupby_resample(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pandas groupby(key).resample(freq) — pd.Grouper(freq=) time
    buckets per group (resample.py TimeGrouper:2402)."""
    from pandas_spark.window import Resampler

    events = _t(spark, sf_dir, "events")
    r = Resampler(events, "1h", on="ts", by=["user_id"])
    return r.agg({"value": ["sum", "count"]}).to_spark()


# ---------------------------------------------------------------------------
# batch 12: merge option surface (right/outer/indicator), dropna thresh,
# fillna dict, concat join='inner'
# ---------------------------------------------------------------------------

@query(
    "join_right_outer_keys",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS c_custkey,
           c.c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM customer c RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def join_right_outer_keys(spark: SparkSession, sf_dir: str) -> SparkDF:
    customer = _t(spark, sf_dir, "customer").select(["c_custkey", "c_mktsegment"])
    orders = _t(spark, sf_dir, "orders").select(["o_custkey", "o_orderkey", "o_totalprice"])
    out = ps.merge(customer, orders, left_on="c_custkey", right_on="o_custkey", how="right")
    return out.select(["c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"]).to_spark()


@query(
    "merge_indicator",
    oracle="""
    SELECT _merge, count(*)::BIGINT AS n FROM (
        SELECT CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NOT NULL THEN 'both'
                    WHEN c.c_custkey IS NOT NULL THEN 'left_only'
                    ELSE 'right_only' END AS _merge
        FROM customer c
        FULL JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 250000) o
          ON c.c_custkey = o.o_custkey
    ) GROUP BY _merge
    """,
)
def merge_indicator(spark: SparkSession, sf_dir: str) -> SparkDF:
    """merge(indicator=True) — the _merge provenance column
    (merge.py:149 indicator param)."""
    customer = _t(spark, sf_dir, "customer").select(["c_custkey"])
    big = (
        _t(spark, sf_dir, "orders")
        .filter(col("o_totalprice") > 250000)
        .select(["o_custkey"])
        .drop_duplicates(subset=["o_custkey"], keep="any")
    )
    out = ps.merge(
        customer, big, left_on="c_custkey", right_on="o_custkey", how="outer", indicator=True
    )
    return out.groupby("_merge").agg(n=("_merge", "size")).to_spark()


@query(
    "dropna_thresh_fillna",
    oracle="""
    WITH s AS (
        SELECT event_id,
               CASE WHEN event_type = 'click' THEN value END AS a,
               CASE WHEN event_type = 'purchase' THEN value END AS b,
               CASE WHEN value > 50 THEN value END AS c
        FROM events
    )
    SELECT event_id,
           coalesce(a, -1.0) AS a, coalesce(b, -2.0) AS b, c
    FROM s
    WHERE (a IS NOT NULL)::INT + (b IS NOT NULL)::INT + (c IS NOT NULL)::INT >= 2
    """,
)
def dropna_thresh_fillna(spark: SparkSession, sf_dir: str) -> SparkDF:
    """dropna(thresh=) + fillna({col: val}) (frame.py:7974, generic
    fillna with dict)."""
    events = _t(spark, sf_dir, "events")
    sparse = DataFrame(
        events.spark.select(
            "event_id",
            F.when(F.col("event_type") == "click", F.col("value")).alias("a"),
            F.when(F.col("event_type") == "purchase", F.col("value")).alias("b"),
            F.when(F.col("value") > 50, F.col("value")).alias("c"),
        )
    )
    out = sparse.dropna(thresh=2, subset=["a", "b", "c"]).fillna({"a": -1.0, "b": -2.0})
    return out.to_spark()


@query(
    "concat_inner_cols",
    oracle="""
    SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_totalprice > 200000
    UNION ALL
    SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_extendedprice > 90000
    """,
)
def concat_inner_cols(spark: SparkSession, sf_dir: str) -> SparkDF:
    """concat(join='inner') — only the shared columns survive
    (concat.py:163 column alignment)."""
    a = (
        _t(spark, sf_dir, "orders")
        .filter(col("o_totalprice") > 200000)
        .select([col("o_orderkey").alias("k"), col("o_totalprice").alias("v")])
        .assign(only_a=ps.lit(1))
    )
    b = (
        _t(spark, sf_dir, "lineitem")
        .filter(col("l_extendedprice") > 90000)
        .select([col("l_orderkey").alias("k"), col("l_extendedprice").alias("v")])
        .assign(only_b=ps.lit(2))
    )
    return ps.concat([a, b], join="inner").to_spark()


# ---------------------------------------------------------------------------
# batch 13: eval dialect, duplicated flags, isna counts, label selection
# ---------------------------------------------------------------------------

@query(
    "eval_assign",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS total_cost
    FROM lineitem
    """,
)
def eval_assign(spark: SparkSession, sf_dir: str) -> SparkDF:
    """df.eval('name = expr') pandas dialect → Spark SQL expression
    (computation/eval.py translator, SURVEY §3.3)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    out = lineitem.eval("total_cost = l_extendedprice * (1 - l_discount) * (1 + l_tax)")
    return out.select(["l_orderkey", "l_linenumber", "total_cost"]).to_spark()


@query(
    "duplicated_flags",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           row_number() OVER (PARTITION BY l_suppkey, l_partkey
                              ORDER BY l_orderkey, l_linenumber) > 1 AS duplicated
    FROM lineitem
    """,
)
def duplicated_flags(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem").sort_values(["l_orderkey", "l_linenumber"])
    out = lineitem.duplicated(subset=["l_suppkey", "l_partkey"], keep="first")
    return out.select(["l_orderkey", "l_linenumber", "duplicated"]).to_spark()


@query(
    "isna_counts",
    oracle="""
    SELECT sum((event_type IS DISTINCT FROM 'purchase')::INT)::BIGINT AS pv_missing,
           count(*)::BIGINT AS total
    FROM events
    """,
)
def isna_counts(spark: SparkSession, sf_dir: str) -> SparkDF:
    """isna() + column-sum — the missing-data census idiom."""
    events = _t(spark, sf_dir, "events")
    sparse = DataFrame(
        events.spark.select(
            F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv")
        )
    )
    flags = sparse.isna().astype({"pv": "int"})
    return flags.agg(
        pv_missing=("pv", "sum"), total=("pv", "size")
    ).to_spark().withColumn("pv_missing", F.col("pv_missing").cast("long"))


@query(
    "label_selection",
    oracle="""
    SELECT l_orderkey AS "li.l_orderkey", l_quantity AS "li.l_quantity",
           l_extendedprice AS "li.l_extendedprice", l_discount AS "li.l_discount",
           l_tax AS "li.l_tax"
    FROM lineitem
    """,
)
def label_selection(spark: SparkSession, sf_dir: str) -> SparkDF:
    """select_dtypes + filter(like=)-style label ops + add_prefix
    (generic.py:5694,4890)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    numeric = lineitem.select_dtypes(include=["double", "bigint"])
    keep = [c for c in numeric.columns
            if c in ("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")]
    return numeric.select(keep).add_prefix("li.").to_spark()


# ---------------------------------------------------------------------------
# batch 14: strict asof matches, interval join, NULL group keys
# ---------------------------------------------------------------------------

@query(
    "merge_asof_strict",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.ts, c.event_id, p.value AS prev_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts > p.ts
    """,
)
def merge_asof_strict(spark: SparkSession, sf_dir: str) -> SparkDF:
    """allow_exact_matches=False: strictly-preceding match only."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(col("event_type") == "click").select(["user_id", "ts", "event_id"])
    purchases = events.filter(col("event_type") == "purchase").select(["user_id", "ts", "value"])
    out = ps.merge_asof(
        clicks, purchases, on="ts", by="user_id",
        direction="backward", allow_exact_matches=False,
    )
    return (
        out.rename({"value": "prev_value"})
        .select(["user_id", "ts", "event_id", "prev_value"])
        .to_spark()
    )


@query(
    "interval_join_bands",
    oracle="""
    WITH bands AS (
        SELECT i * 60000.0 AS lo, (i + 1) * 60000.0 AS hi,
               'band' || i::VARCHAR AS band
        FROM range(10) t(i)
    )
    SELECT o.o_orderkey, b.band, count(*)::BIGINT AS n
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY o.o_orderkey, b.band
    """,
)
def interval_join_bands(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Point-in-interval broadcast range join (no shuffle of the fact
    side — BroadcastNestedLoopJoin with a range predicate)."""
    from pandas_spark.operators.joins import interval_join

    orders = _t(spark, sf_dir, "orders")
    bands = DataFrame(
        spark.range(10).select(
            (F.col("id") * 60000.0).alias("lo"),
            ((F.col("id") + 1) * 60000.0).alias("hi"),
            F.concat(F.lit("band"), F.col("id").cast("string")).alias("band"),
        )
    )
    j = interval_join(orders, bands, on="o_totalprice", lo="lo", hi="hi")
    return j.groupby(["o_orderkey", "band"]).agg(n=("band", "size")).to_spark()


@query(
    "groupby_null_keys",
    oracle=f"""
    WITH s AS (
        SELECT CASE WHEN value > 50 THEN event_type END AS k, value FROM events
    )
    SELECT k, count(*)::BIGINT AS n, {ESUM('value')} AS total
    FROM s GROUP BY k
    """,
)
def groupby_null_keys(spark: SparkSession, sf_dir: str) -> SparkDF:
    """dropna=False keeps the NULL group (pandas groupby dropna param,
    frame.py:12936; default drops it — both paths suite-checked)."""
    events = _t(spark, sf_dir, "events")
    s = DataFrame(
        events.spark.select(
            F.when(F.col("value") > 50, F.col("event_type")).alias("k"), "value"
        )
    )
    return s.groupby("k", dropna=False).agg(n=("value", "size"), total=("value", "sum")).to_spark()


@query(
    "groupby_dropna_default",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN value > 50 THEN event_type END AS k, value FROM events
    )
    SELECT k, count(*)::BIGINT AS n FROM s WHERE k IS NOT NULL GROUP BY k
    """,
)
def groupby_dropna_default(spark: SparkSession, sf_dir: str) -> SparkDF:
    events = _t(spark, sf_dir, "events")
    s = DataFrame(
        events.spark.select(
            F.when(F.col("value") > 50, F.col("event_type")).alias("k"), "value"
        )
    )
    return s.groupby("k").agg(n=("value", "size")).to_spark()


# ---------------------------------------------------------------------------
# batch 15: frame-level shift/diff, nsmallest, tail after sort, group sample
# ---------------------------------------------------------------------------

@query(
    "frame_shift_diff",
    oracle="""
    SELECT o_orderkey,
           lag(o_totalprice) OVER (ORDER BY o_orderkey)                 AS prev_price,
           o_totalprice - lag(o_totalprice) OVER (ORDER BY o_orderkey)  AS price_diff
    FROM orders
    """,
)
def frame_shift_diff(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Frame-wide shift/diff over the declared sort order (frame.py:6907,
    :14113) — single ordered window, documented scale caveat (use
    groupby variants to parallelize by key)."""
    orders = _t(spark, sf_dir, "orders").select(["o_orderkey", "o_totalprice"]).sort_values("o_orderkey")
    shifted = orders.shift(1, columns=["o_totalprice"]).rename({"o_totalprice": "prev_price"})
    merged = ps.merge(
        orders, shifted, on="o_orderkey", how="inner"
    ).assign(price_diff=col("o_totalprice") - col("prev_price"))
    return merged.select(["o_orderkey", "prev_price", "price_diff"]).to_spark()


@query(
    "nsmallest_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice ASC, o_orderkey ASC LIMIT 50
    """,
)
def nsmallest_topk(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").select(["o_orderkey", "o_totalprice"])
    return orders.nsmallest(50, ["o_totalprice", "o_orderkey"]).to_spark()


@query(
    "nlargest_keep_last",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice IS NOT NULL
    ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 20
    """,
)
def nlargest_keep_last(spark: SparkSession, sf_dir: str) -> SparkDF:
    """nlargest(keep='last') (reference frame.py:9069 / selectn.py):
    value ties resolved to the LAST occurrence in the declared row
    order — here ascending o_orderkey, so the reversed tie-break is
    o_orderkey DESC."""
    orders = _t(spark, sf_dir, "orders").select(["o_orderkey", "o_totalprice"])
    return (
        orders.sort_values("o_orderkey")
        .nlargest(20, "o_totalprice", keep="last")
        .to_spark()
    )


@query(
    "groupby_nlargest_last",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_totalprice IS NOT NULL
    ) WHERE rn <= 2
    """,
)
def groupby_nlargest_last(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-group nlargest(keep='last') — reversed declared-order
    tie-break inside each customer's top-2."""
    orders = _t(spark, sf_dir, "orders").select(
        ["o_custkey", "o_orderkey", "o_totalprice"]
    )
    return (
        orders.sort_values("o_orderkey")
        .groupby("o_custkey")
        .nlargest("o_totalprice", 2, keep="last")
        .to_spark()
    )


@query(
    "tail_after_sort",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    QUALIFY row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) <= 50
    """,
)
def tail_after_sort(spark: SparkSession, sf_dir: str) -> SparkDF:
    """tail(n) = last n of the declared (descending) order — compiled
    to a reverse-order row_number window, no full materialized sort."""
    orders = _t(spark, sf_dir, "orders").select(["o_orderkey", "o_totalprice"])
    return orders.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, False]).tail(50).to_spark()


@query(
    "groupby_sample",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM (
        SELECT o_orderkey, o_orderstatus,
               row_number() OVER (PARTITION BY o_orderstatus
                   ORDER BY md5('42' || o_orderkey::VARCHAR), o_orderkey) AS rk
        FROM orders
    ) WHERE rk <= 100
    """,
)
def groupby_sample(spark: SparkSession, sf_dir: str) -> SparkDF:
    """groupby.sample(n=) (reference groupby.py:5622) — exact n per
    group by deterministic md5 hash-rank, oracle-reproducible."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupby("o_orderstatus")
        .sample(n=100, seed=42, id_col="o_orderkey")
        .select(["o_orderkey", "o_orderstatus"])
        .to_spark()
    )


# ---------------------------------------------------------------------------
# batch 16: streaming dedup (oracle on key set), corr matrix, rolling median
# ---------------------------------------------------------------------------

@query(
    "streaming_dedup_keys",
    oracle="SELECT DISTINCT user_id FROM events",
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Watermarked streaming dedup (state-TTL) driven to completion;
    the kept-key set is deterministic even though which row represents
    each key is arrival-order (first seen)."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    out = pss.dedup_stream(stream, ["user_id"], on="ts", watermark="10 days")
    pss.run_to_memory(out, "suite_stream_dedup", output_mode="append")
    return spark.table("suite_stream_dedup").select("user_id")


@query(
    "corr_matrix",
    oracle="""
    WITH pairs(col1, col2) AS (
        VALUES ('l_quantity','l_quantity'), ('l_quantity','l_extendedprice'),
               ('l_quantity','l_discount'), ('l_extendedprice','l_quantity'),
               ('l_extendedprice','l_extendedprice'), ('l_extendedprice','l_discount'),
               ('l_discount','l_quantity'), ('l_discount','l_extendedprice'),
               ('l_discount','l_discount')
    )
    SELECT p.col1, p.col2,
           CASE p.col1 || '|' || p.col2
             WHEN 'l_quantity|l_quantity' THEN corr(l_quantity, l_quantity)
             WHEN 'l_quantity|l_extendedprice' THEN corr(l_quantity, l_extendedprice)
             WHEN 'l_quantity|l_discount' THEN corr(l_quantity, l_discount)
             WHEN 'l_extendedprice|l_quantity' THEN corr(l_extendedprice, l_quantity)
             WHEN 'l_extendedprice|l_extendedprice' THEN corr(l_extendedprice, l_extendedprice)
             WHEN 'l_extendedprice|l_discount' THEN corr(l_extendedprice, l_discount)
             WHEN 'l_discount|l_quantity' THEN corr(l_discount, l_quantity)
             WHEN 'l_discount|l_extendedprice' THEN corr(l_discount, l_extendedprice)
             WHEN 'l_discount|l_discount' THEN corr(l_discount, l_discount)
           END AS corr
    FROM pairs p, lineitem
    GROUP BY p.col1, p.col2
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> SparkDF:
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.corr(subset=["l_quantity", "l_extendedprice", "l_discount"]).to_spark()


@query(
    "rolling_median",
    oracle="""
    SELECT event_id, user_id,
           median(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS value_med
    FROM events
    """,
)
def rolling_median(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Rolling median — pandas uses a skiplist kernel
    (aggregations.pyx:1036); Spark evaluates the frame per row, an
    acceptable O(w) cost documented in SURVEY §4."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 7, on="event_id", by=["user_id"], min_periods=1)
    return r.median("value", alias="value_med").select(
        ["event_id", "user_id", "value_med"]
    ).to_spark()


# ---------------------------------------------------------------------------
# batch 17: grouped array collection; array/list functions on embeddings
# ---------------------------------------------------------------------------

@query(
    "groupby_collect_sorted",
    oracle="""
    SELECT o_custkey, list_sort(list(o_orderkey)) AS orders
    FROM orders GROUP BY o_custkey
    """,
)
def groupby_collect_sorted(spark: SparkSession, sf_dir: str) -> SparkDF:
    """collect_list + sort_array — deterministic grouped arrays (the
    lists-in-cells idiom, §2.8 array/nested)."""
    orders = _t(spark, sf_dir, "orders")
    out = orders.groupby("o_custkey").agg(orders=("o_orderkey", "collect_list"))
    return out.to_spark().withColumn("orders", F.sort_array(F.col("orders")))


@query(
    "array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding)                         AS dim,
           list_max(embedding)::DOUBLE            AS mx,
           list_min(embedding)::DOUBLE            AS mn,
           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS sq_norm,
           embedding[1]::DOUBLE                   AS first_component
    FROM embeddings
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Array HOFs over an embedding column — size/max/min/aggregate/
    element_at, all JVM-side (ArrowDtype list ops, SURVEY §2.8)."""
    emb = ps.read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    e = F.col("embedding").cast("array<double>")
    return emb.spark.select(
        "vec_id",
        F.size(e).alias("dim"),
        F.array_max(e).alias("mx"),
        F.array_min(e).alias("mn"),
        F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x).alias("sq_norm"),
        F.element_at(e, 1).alias("first_component"),
    )


# ---------------------------------------------------------------------------
# batch 18: frame nunique, grouped product
# ---------------------------------------------------------------------------

@query(
    "frame_nunique",
    oracle="""
    SELECT count(DISTINCT o_custkey)::BIGINT       AS o_custkey,
           count(DISTINCT o_orderstatus)::BIGINT   AS o_orderstatus,
           count(DISTINCT o_orderpriority)::BIGINT AS o_orderpriority
    FROM orders
    """,
)
def frame_nunique(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").select(
        ["o_custkey", "o_orderstatus", "o_orderpriority"]
    )
    return orders.nunique().to_spark()


@query(
    "groupby_prod",
    oracle="""
    SELECT user_id, product(1.0 + value / 1000.0) AS growth
    FROM events GROUP BY user_id
    """,
)
def groupby_prod(spark: SparkSession, sf_dir: str) -> SparkDF:
    events = _t(spark, sf_dir, "events")
    scaled = DataFrame(events.spark.withColumn("g", 1.0 + F.col("value") / 1000.0))
    return scaled.groupby("user_id").agg(growth=("g", "prod")).to_spark()


# ---------------------------------------------------------------------------
# batch 19: positional selection (take / iloc slice / truncate)
# ---------------------------------------------------------------------------

@query(
    "take_positions",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS pos
        FROM orders
    ) WHERE pos IN (0, 9, 99, 999)
    """,
)
def take_positions(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").select(["o_orderkey", "o_totalprice"])
    return (
        orders.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True])
        .take([0, 9, 99, 999])
        .to_spark()
    )


@query(
    "iloc_slice_mid",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS pos
        FROM orders
    ) WHERE pos >= 100 AND pos < 150
    """,
)
def iloc_slice_mid(spark: SparkSession, sf_dir: str) -> SparkDF:
    orders = _t(spark, sf_dir, "orders").select(["o_orderkey", "o_totalprice"])
    return (
        orders.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True])
        .iloc_slice(100, 150)
        .to_spark()
    )


# ---------------------------------------------------------------------------
# batch 20: str.get_dummies + str.cat
# ---------------------------------------------------------------------------

@query(
    "str_dummies_cat",
    oracle="""
    SELECT p_partkey,
           (p_type LIKE '%STANDARD%')::INT  AS has_standard,
           (p_type LIKE '%PLATED%')::INT    AS has_plated,
           p_brand || ':' || p_type         AS brand_type
    FROM part
    """,
)
def str_dummies_cat(spark: SparkSession, sf_dir: str) -> SparkDF:
    """str.get_dummies over space-separated labels + str.cat
    (accessor.py:2977, :481)."""
    part = _t(spark, sf_dir, "part")
    dummies = col("p_type").str.get_dummies(sep=" ", categories=["STANDARD", "PLATED"])
    return (
        part.assign(
            has_standard=dummies["STANDARD"],
            has_plated=dummies["PLATED"],
            brand_type=col("p_brand").str.cat(col("p_type").spark, sep=":"),
        )
        .select(["p_partkey", "has_standard", "has_plated", "brand_type"])
        .to_spark()
    )


# ---------------------------------------------------------------------------
# batch 21: weighted rolling windows (win_type analog)
# ---------------------------------------------------------------------------

@query(
    "rolling_weighted_mean",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id,
               list(value) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS arr
        FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN len(arr) = 5 THEN
               list_sum(list_transform(range(1, 6), i -> arr[i] * [1.0,2.0,3.0,2.0,1.0][i])) / 9.0
           END AS value_wmean
    FROM l
    """,
)
def rolling_weighted_mean(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Triangular-weighted rolling mean (pandas win_type='triang'
    analog; caller supplies the taper) — dot product via array HOFs."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 5, on="event_id", by=["user_id"])
    return r.weighted_mean("value", [1.0, 2.0, 3.0, 2.0, 1.0], alias="value_wmean").select(
        ["event_id", "user_id", "value_wmean"]
    ).to_spark()


# ---------------------------------------------------------------------------
# batch 22: the arbitrary-callable UDF surface (SURVEY §2.11) — every
# pandas escape hatch, Arrow-vectorized, each with a SQL oracle that
# restates the callable's semantics
# ---------------------------------------------------------------------------

@query(
    "apply_axis1",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net
    FROM lineitem
    """,
)
def apply_axis1(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.apply(fn, axis=1) — arbitrary row callable through
    mapInPandas (reference core/apply.py:915 FrameApply)."""
    li = _t(spark, sf_dir, "lineitem").select(
        ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"]
    )
    out = li.apply(lambda row: row.l_extendedprice * (1.0 - row.l_discount), alias="net")
    return out.select(["l_orderkey", "l_linenumber", "net"]).to_spark()


@query(
    "series_apply_map",
    oracle="""
    SELECT o_orderkey, CAST(split_part(o_orderpriority, '-', 1) AS BIGINT) AS prio
    FROM orders
    """,
)
def series_apply_map(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Series.apply / Series.map(callable) — elementwise Python through
    a scalar pandas_udf with sampled dtype inference (core/apply.py:1654
    SeriesApply; series.py:4889)."""
    orders = _t(spark, sf_dir, "orders")
    out = orders.series_apply("o_orderpriority", lambda s: int(s.split("-")[0]), alias="prio")
    return out.select(["o_orderkey", "prio"]).to_spark()


@query(
    "agg_udaf",
    oracle="""
    SELECT l_returnflag, max(l_quantity) - min(l_quantity) AS qty_range
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_udaf(spark: SparkSession, sf_dir: str) -> SparkDF:
    """groupby.agg(callable) — Series→scalar reducer as a GROUPED_AGG
    pandas_udf (the pandas agg-UDAF path, core/apply.py GroupByApply)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupby("l_returnflag")
        .agg(qty_range=("l_quantity", lambda s: float(s.max() - s.min())))
        .to_spark()
    )


@query(
    "apply_axis0",
    oracle="""
    SELECT max(l_quantity) - min(l_quantity) AS l_quantity,
           max(l_extendedprice) - min(l_extendedprice) AS l_extendedprice
    FROM lineitem
    """,
)
def apply_axis0(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.apply(fn, axis=0) — per-column Series reduction
    (apply.py:1654 area): one global GROUPED_AGG pass, wide row out."""
    li = _t(spark, sf_dir, "lineitem")
    return li.apply(
        lambda s: float(s.max() - s.min()),
        axis=0,
        subset=["l_quantity", "l_extendedprice"],
    ).to_spark()


@query(
    "transform_callable",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           l_quantity - max(l_quantity) OVER (PARTITION BY l_returnflag) AS q_demax
    FROM lineitem
    """,
)
def transform_callable(spark: SparkSession, sf_dir: str) -> SparkDF:
    """groupby.transform(callable) — per-group Series→Series callable
    via applyInPandas, result landing back on the group's rows with no
    join-back (groupby/groupby.py transform dispatch)."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.groupby("l_returnflag").transform(lambda s: s - s.max(), "l_quantity", alias="q_demax")
    return out.select(["l_orderkey", "l_linenumber", "l_returnflag", "q_demax"]).to_spark()


@query(
    "rolling_apply",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(value) OVER w >= 5
                THEN max(value) OVER w - min(value) OVER w END AS vrange
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_apply(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling.apply(fn) — the window frame stays in Catalyst
    (collect_list over the same spec the builtin aggs use); one
    vectorized pandas_udf maps fn over each row's window array
    (aggregations.pyx:1696 roll_apply, raw=True contract)."""
    events = _t(spark, sf_dir, "events")
    out = events.rolling(5, on="event_id", by=["user_id"]).apply(
        lambda a: float(a.max() - a.min()), "value", alias="vrange"
    )
    return out.select(["event_id", "user_id", "vrange"]).to_spark()


# ---------------------------------------------------------------------------
# batch 23: timedelta family (SURVEY §2.8) — DayTimeIntervalType as the
# duration dtype (reference tools/timedeltas.py:54, arrays/timedeltas.py:134)
# ---------------------------------------------------------------------------

@query(
    "timedelta_ops",
    oracle="""
    SELECT event_id, user_id,
           epoch(ts - lag(ts) OVER w)                         AS gap_secs,
           (ts - lag(ts) OVER w) > INTERVAL '10 minutes'      AS gap_gt_10min,
           ts + INTERVAL '30 minutes'                         AS ts_plus_30m,
           CAST(floor(epoch(ts - min(ts) OVER (PARTITION BY user_id)) / 86400.0)
                AS BIGINT)                                    AS days_since_first
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def timedelta_ops(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Duration arithmetic end-to-end: ts−ts → interval, interval
    fields (total_seconds / floor-days), interval comparison, and
    ts + to_timedelta — all native DayTimeIntervalType expressions
    (DuckDB mirrors with epoch()/INTERVAL arithmetic)."""
    ev = _t(spark, sf_dir, "events")
    prev = ev.groupby("user_id").shift("ts", alias="prev_ts", order_by="event_id")
    first = prev.groupby("user_id").transform("min", "ts", alias="first_ts")
    gap = col("ts") - col("prev_ts")
    since = col("ts") - col("first_ts")
    out = first.assign(
        gap_secs=gap.dt.total_seconds(),
        gap_gt_10min=gap > ps.to_timedelta(10, "min"),
        ts_plus_30m=col("ts") + ps.to_timedelta(30, "min"),
        days_since_first=since.dt.days(),
    )
    return out.select(
        ["event_id", "user_id", "gap_secs", "gap_gt_10min", "ts_plus_30m", "days_since_first"]
    ).to_spark()


@query(
    "timedelta_range_spine",
    oracle="""
    SELECT i * 1800.0 AS td_secs,
           TIMESTAMP '1990-01-01' + to_seconds(i * 1800) AS anchored
    FROM range(20) t(i)
    """,
)
def timedelta_range_spine(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.timedelta_range analog (indexes/datetimes.py:422):
    distributed interval spine; anchored to a timestamp for
    cross-engine value comparison."""
    tdr = ps.timedelta_range(spark, "0s", periods=20, freq="30min")
    out = tdr.assign(
        td_secs=col("td").dt.total_seconds(),
        anchored=ps.to_datetime("1990-01-01") + col("td"),
    )
    return out.select(["td_secs", "anchored"]).to_spark()


# ---------------------------------------------------------------------------
# batch 24: calendar DateOffset arithmetic (SURVEY §2.8) — BusinessDay via
# broadcast calendar dim, anchored MonthEnd/QuarterEnd/Week as Catalyst exprs
# (reference offsets.pyx:2633/:4680/:4231/:5192, indexes/datetimes.py:1810)
# ---------------------------------------------------------------------------

_CAL_SQL = """
    SELECT d::DATE AS cal_date,
           dayofweek(d) NOT IN (0, 6) AS is_bd,
           sum(CASE WHEN dayofweek(d) NOT IN (0, 6) THEN 1 ELSE 0 END)
             OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS bday_rank
    FROM (SELECT unnest(generate_series(DATE '1990-01-01', DATE '2050-12-31',
                                        INTERVAL 1 day)) AS d)
"""


@query(
    "bday_shift",
    oracle=f"""
    WITH cal AS ({_CAL_SQL})
    SELECT o_orderkey, c2.cal_date AS o_bshift
    FROM orders
    JOIN cal c1 ON c1.cal_date = o_orderdate::DATE
    JOIN cal c2 ON c2.is_bd AND c2.bday_rank = c1.bday_rank + 3
    """,
)
def bday_shift(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ts + BusinessDay(3): two broadcast joins against a generated
    calendar dimension (date → bday rank → date); the fact table never
    shuffles. The oracle rebuilds the identical calendar in SQL."""
    from pandas_spark.functions.offsets import bday_shift as _bshift

    orders = _t(spark, sf_dir, "orders")
    out = _bshift(orders, "o_orderdate", 3, alias="o_bshift")
    return out.select(["o_orderkey", "o_bshift"]).to_spark()


@query(
    "bdate_range_spine",
    oracle="""
    SELECT d::DATE AS ts
    FROM (SELECT unnest(generate_series(DATE '1997-01-01', DATE '1997-06-30',
                                        INTERVAL 1 day)) AS d)
    WHERE dayofweek(d) NOT IN (0, 6)
    """,
)
def bdate_range_spine(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.bdate_range: weekday-only date spine."""
    from pandas_spark.functions.offsets import bdate_range

    return bdate_range(spark, "1997-01-01", "1997-06-30").to_spark()


@query(
    "offset_anchors",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderdate::DATE AS d,
               last_day(make_date(year(o_orderdate)::INT,
                                  (quarter(o_orderdate) * 3)::INT, 1)) AS qe
        FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN d = last_day(d) THEN last_day(d + INTERVAL 1 month)
                ELSE last_day(d) END AS me1,
           CASE WHEN d = qe THEN last_day(qe + INTERVAL 3 month) ELSE qe END AS qe1,
           (d + to_days(CAST(CASE WHEN (8 - isodow(d)) % 7 = 0 THEN 7
                                  ELSE (8 - isodow(d)) % 7 END AS INT)))::DATE AS next_mon
    FROM base
    """,
)
def offset_anchors(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Anchored offsets: MonthEnd(1), QuarterEnd(1), Week(weekday=Mon)
    roll-forward — pure Catalyst (last_day / add_months / next_day)."""
    from pandas_spark.functions.offsets import month_end, next_weekday, quarter_end

    orders = _t(spark, sf_dir, "orders")
    sdf = orders.spark.select(
        "o_orderkey",
        month_end(F.col("o_orderdate"), 1).alias("me1"),
        quarter_end(F.col("o_orderdate"), 1).alias("qe1"),
        next_weekday(F.col("o_orderdate"), "Mon").alias("next_mon"),
    )
    return sdf


# ---------------------------------------------------------------------------
# batch 25: string tail (rfind/rpartition/rsplit/casefold/extractall),
# corrwith, Spearman — VERDICT "What's missing" items 4-5
# (reference accessor.py:3635/:1163/:4251/:3501, frame.py:16047/:15791)
# ---------------------------------------------------------------------------

@query(
    "string_ops3",
    oracle="""
    SELECT c_custkey,
           CASE WHEN strpos(reverse(c_name), '0') > 0
                THEN len(c_name) - strpos(reverse(c_name), '0')
                ELSE -1 END                                         AS rfind0,
           CASE WHEN strpos(c_name, '#') > 0
                THEN substr(c_name, 1, len(c_name) - strpos(reverse(c_name), '#'))
                ELSE '' END                                         AS rpart_head,
           CASE WHEN strpos(c_name, '#') > 0
                THEN substr(c_name, len(c_name) - strpos(reverse(c_name), '#') + 2)
                ELSE c_name END                                     AS rpart_tail,
           lower(c_name)                                            AS folded,
           regexp_extract_all(c_name, '[0-9]+')                     AS digit_runs,
           CASE WHEN strpos(reverse(c_name), '0') > 0
                THEN [substr(c_name, 1, len(c_name) - strpos(reverse(c_name), '0')),
                      substr(c_name, len(c_name) - strpos(reverse(c_name), '0') + 2)]
                ELSE [c_name] END                                   AS rsplit0,
           substr(c_name, 1, 4) || '***' || substr(c_name, 9)      AS redacted
    FROM customer
    """,
)
def string_ops3(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Right-anchored string tail: rfind, rpartition, rsplit(n=1),
    casefold, extractall — all reverse-trick Catalyst expressions, no
    UDF; the oracle mirrors the same reverse arithmetic in SQL."""
    cust = _t(spark, sf_dir, "customer")
    out = cust.assign(
        rfind0=col("c_name").str.rfind("0"),
        rpart=col("c_name").str.rpartition("#"),
        folded=col("c_name").str.casefold(),
        digit_runs=col("c_name").str.extractall("[0-9]+", group=0),
        rsplit0=col("c_name").str.rsplit("0", n=1),
        redacted=col("c_name").str.slice_replace(4, 8, "***"),
    )
    sdf = out.to_spark().select(
        "c_custkey",
        "rfind0",
        F.col("rpart.head").alias("rpart_head"),
        F.col("rpart.tail").alias("rpart_tail"),
        "folded",
        "digit_runs",
        "rsplit0",
        "redacted",
    )
    return sdf


@query(
    "corrwith",
    oracle=f"""
    WITH b AS (
        SELECT l_orderkey AS o_orderkey, {ESUM('l_extendedprice')} AS amount
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_totalprice AS la, b.amount AS ra
        FROM orders o JOIN b ON o.o_orderkey = b.o_orderkey
    )
    SELECT 'amount' AS "column", {ECORR('la', 'ra')} AS corr FROM j
    """,
)
def corrwith(spark: SparkSession, sf_dir: str) -> SparkDF:
    """frame.corrwith: pair rows by explicit key, correlate each shared
    numeric column — one join + one exact-moment aggregation."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = orders.select(["o_orderkey", "o_totalprice"]).rename({"o_totalprice": "amount"})
    b = (
        li.groupby("l_orderkey")
        .agg(amount=("l_extendedprice", "sum"))
        .rename({"l_orderkey": "o_orderkey"})
    )
    return a.corrwith(b, on="o_orderkey").to_spark()


@query(
    "spearman_corr",
    oracle="""
    WITH r AS (
        SELECT rank() OVER (ORDER BY l_quantity)
                 + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0      AS q,
               rank() OVER (ORDER BY l_extendedprice)
                 + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS p
        FROM lineitem
    )
    SELECT 'l_quantity' AS col1, 'l_quantity' AS col2, corr(q, q) AS corr FROM r
    UNION ALL
    SELECT 'l_quantity', 'l_extendedprice', corr(q, p) FROM r
    UNION ALL
    SELECT 'l_extendedprice', 'l_quantity', corr(p, q) FROM r
    UNION ALL
    SELECT 'l_extendedprice', 'l_extendedprice', corr(p, p) FROM r
    """,
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> SparkDF:
    """corr(method='spearman'): average-rank pre-pass (pandas tie
    rule) then Pearson on ranks (frame.py:15791)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.corr(subset=["l_quantity", "l_extendedprice"], method="spearman").to_spark()


# ---------------------------------------------------------------------------
# batch 26: lreshape, ordered-categorical sort, isin(DataFrame) —
# VERDICT "What's missing" items 7-9 (reference reshape/melt.py:287,
# arrays/categorical.py:257, frame.py:19265)
# ---------------------------------------------------------------------------

@query(
    "lreshape_stack",
    oracle="""
    SELECT event_id, user_id, value AS v, 'a' AS tag FROM events
    UNION ALL
    SELECT event_id, user_id, value * 2 AS v, 'b' AS tag FROM events
    """,
)
def lreshape_stack(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.lreshape: position-aligned column groups stacked long —
    a union of projections, one scan per slice."""
    ev = _t(spark, sf_dir, "events").select(["event_id", "user_id", "value"])
    wide = ev.assign(
        v_a=col("value"), v_b=col("value") * 2,
        tag_a=F.lit("a"), tag_b=F.lit("b"),
    ).drop(["value"])
    return ps.lreshape(wide, {"v": ["v_a", "v_b"], "tag": ["tag_a", "tag_b"]}).to_spark()


@query(
    "categorical_sort_head",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CASE c_mktsegment
                WHEN 'HOUSEHOLD'  THEN 0 WHEN 'AUTOMOBILE' THEN 1
                WHEN 'MACHINERY'  THEN 2 WHEN 'BUILDING'   THEN 3
                WHEN 'FURNITURE'  THEN 4 ELSE -1 END AS seg_code
    FROM customer
    ORDER BY seg_code, c_custkey
    LIMIT 100
    """,
)
def categorical_sort_head(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Ordered-categorical sort (SURVEY §1.3 plan): category → code via
    an array_position literal lookup (no join, no UDF), then an
    ordinary sort+limit — TakeOrderedAndProject, no global sort."""
    order = ["HOUSEHOLD", "AUTOMOBILE", "MACHINERY", "BUILDING", "FURNITURE"]
    cust = _t(spark, sf_dir, "customer")
    coded = cust.assign(seg_code=ps.cat_codes(col("c_mktsegment"), order))
    return (
        coded.select(["c_custkey", "c_mktsegment", "seg_code"])
        .sort_values(["seg_code", "c_custkey"])
        .head(100)
        .to_spark()
    )


@query(
    "isin_aligned",
    oracle="""
    WITH o AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT c.c_custkey,
           c.c_mktsegment IS NOT DISTINCT FROM o.c_mktsegment AS c_mktsegment
    FROM customer c LEFT JOIN o ON c.c_custkey = o.c_custkey
    """,
)
def isin_aligned(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.isin(DataFrame): aligned membership — equality against
    the other frame's value on the same key row (null-safe), one left
    join."""
    cust = _t(spark, sf_dir, "customer")
    other = cust.filter(col("c_custkey") % 3 == 0).select(["c_custkey", "c_mktsegment"])
    return cust.select(["c_custkey", "c_mktsegment"]).isin_frame(other, on="c_custkey").to_spark()


@query(
    "numpy_ufuncs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           sqrt(l_quantity)              AS root,
           ln(l_extendedprice)           AS logp,
           greatest(l_discount, l_tax)   AS mx,
           abs(l_quantity - 25.0)        AS dev
    FROM lineitem
    """,
)
def numpy_ufuncs(spark: SparkSession, sf_dir: str) -> SparkDF:
    """NumPy ufunc façade (__array_ufunc__): np.sqrt/np.log/np.maximum
    over engine expressions compile to Catalyst — no numpy at runtime,
    no UDF (pandas arraylike.py protocol)."""
    import numpy as np

    li = _t(spark, sf_dir, "lineitem")
    out = li.assign(
        root=np.sqrt(col("l_quantity")),
        logp=np.log(col("l_extendedprice")),
        mx=np.maximum(col("l_discount"), col("l_tax")),
        dev=np.abs(col("l_quantity") - 25.0),
    )
    return out.select(["l_orderkey", "l_linenumber", "root", "logp", "mx", "dev"]).to_spark()


# ---------------------------------------------------------------------------
# Round 3: update/combine, is_monotonic, eval, dropna/fillna, pairwise ewm
# ---------------------------------------------------------------------------

@query(
    "eval_assign",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_totalprice * (1 - 0.04) AS net
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def eval_assign(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.eval assignment dialect (computation/eval.py; reference
    core/computation/eval.py:169) — the expression compiles to a
    Catalyst projection, never a Python eval."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(col("o_orderstatus") == "O")
        .eval("net = o_totalprice * (1 - 0.04)")
        .select(["o_orderkey", "o_totalprice", "net"])
        .to_spark()
    )


@query(
    "dropna_fillna",
    oracle="""
    WITH t AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_discount > 0 THEN l_discount END AS disc,
               CASE WHEN l_tax > 0 THEN l_tax END AS tax
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, disc, coalesce(tax, -1.0) AS tax
    FROM t WHERE disc IS NOT NULL
    """,
)
def dropna_fillna(spark: SparkSession, sf_dir: str) -> SparkDF:
    """dropna(subset=) + fillna(dict) (generic.py:6412, :7161) over
    engineered NULLs — na.drop / na.fill pushdown-friendly projections."""
    li = _t(spark, sf_dir, "lineitem")
    t = li.assign(
        disc=F.when(F.col("l_discount") > 0, F.col("l_discount")),
        tax=F.when(F.col("l_tax") > 0, F.col("l_tax")),
    ).select(["l_orderkey", "l_linenumber", "disc", "tax"])
    return t.dropna(subset=["disc"]).fillna({"tax": -1.0}).to_spark()


@query(
    "update_overlay",
    oracle="""
    SELECT c.c_custkey,
           CASE WHEN c.c_acctbal > 9000 THEN 'PLATINUM' ELSE c.c_mktsegment END AS c_mktsegment,
           c.c_acctbal
    FROM customer c
    """,
)
def update_overlay(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.update (frame.py:9420): left-aligned non-NA overlay —
    one left join, shape preserved."""
    from pandas_spark.operators.setops import update

    cust = (
        _t(spark, sf_dir, "customer")
        .select(["c_custkey", "c_mktsegment", "c_acctbal"])
        .set_index("c_custkey")
    )
    rich = (
        _t(spark, sf_dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .assign(c_mktsegment=F.lit("PLATINUM"))
        .select(["c_custkey", "c_mktsegment"])
        .set_index("c_custkey")
    )
    return update(cust, rich).to_spark()


@query(
    "combine_greatest",
    oracle="""
    SELECT o_orderkey, greatest(o_totalprice, 150000.0) AS price_floor,
           o_custkey::DOUBLE AS ckey
    FROM orders
    """,
)
def combine_greatest(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.combine(func) (frame.py:12514): full-outer align on a
    unique key + column-pair merge function expressed as a
    Column-level lambda; one-sided columns pass through."""
    from pandas_spark.operators.setops import combine

    orders = _t(spark, sf_dir, "orders")
    a = (
        orders.select(["o_orderkey", "o_totalprice"])
        .rename({"o_totalprice": "price_floor"})
        .set_index("o_orderkey")
    )
    b = (
        orders.assign(
            price_floor=F.lit(150000.0),
            ckey=F.col("o_custkey").cast("double"),
        )
        .select(["o_orderkey", "price_floor", "ckey"])
        .set_index("o_orderkey")
    )
    return combine(a, b, lambda x, y: F.greatest(x, y)).to_spark()


@query(
    "is_monotonic",
    oracle="""
    WITH t AS (
        SELECT o_orderdate, o_totalprice,
               lag(o_orderdate)  OVER (ORDER BY o_orderdate, o_orderkey) AS pd_,
               lag(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey) AS pp
        FROM orders
    )
    SELECT min(CASE WHEN pd_ IS NULL THEN TRUE ELSE o_orderdate >= pd_ END)  AS o_orderdate_increasing,
           min(CASE WHEN pd_ IS NULL THEN TRUE ELSE o_orderdate <= pd_ END)  AS o_orderdate_decreasing,
           min(CASE WHEN pp  IS NULL THEN TRUE ELSE o_totalprice >= pp END)  AS o_totalprice_increasing,
           min(CASE WHEN pp  IS NULL THEN TRUE ELSE o_totalprice <= pp END)  AS o_totalprice_decreasing
    FROM t
    """,
)
def is_monotonic(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Series.is_monotonic_increasing/_decreasing (base.py:1291) over
    the declared sort order — lag + two conditional min-aggs per
    column (map-side partial reduction after the one ordered pass)."""
    orders = _t(spark, sf_dir, "orders").sort_values(["o_orderdate", "o_orderkey"])
    return orders.is_monotonic(subset=["o_orderdate", "o_totalprice"]).to_spark()


@query(
    "ewm_pairwise_corr",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id,
               list(value)            OVER w AS lx,
               list(event_id::DOUBLE) OVER w AS ly
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
        SELECT event_id, user_id,
               list_sum(list_transform(range(1, len(lx)+1), i -> 0.7 ** (len(lx)-i)))                     AS sw,
               list_sum(list_transform(range(1, len(lx)+1), i -> lx[i] * 0.7 ** (len(lx)-i)))             AS swx,
               list_sum(list_transform(range(1, len(lx)+1), i -> ly[i] * 0.7 ** (len(lx)-i)))             AS swy,
               list_sum(list_transform(range(1, len(lx)+1), i -> lx[i]*lx[i] * 0.7 ** (len(lx)-i)))       AS swxx,
               list_sum(list_transform(range(1, len(lx)+1), i -> ly[i]*ly[i] * 0.7 ** (len(lx)-i)))       AS swyy,
               list_sum(list_transform(range(1, len(lx)+1), i -> lx[i]*ly[i] * 0.7 ** (len(lx)-i)))       AS swxy
        FROM l
    )
    SELECT event_id, user_id,
           CASE WHEN (swxx - swx*swx/sw) <= 0 OR (swyy - swy*swy/sw) <= 0 THEN NULL
                ELSE (swxy - swx*swy/sw) / sqrt((swxx - swx*swx/sw) * (swyy - swy*swy/sw))
           END AS v_corr
    FROM s
    """,
)
def ewm_pairwise_corr(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Pairwise ewm.corr (window/ewm.py:747) per key — partition-level
    mapInPandas kernel; oracle is the closed-form adjust=True weighted
    correlation (debias factors cancel in the ratio)."""
    from pandas_spark.window import ewm_corr

    events = (
        _t(spark, sf_dir, "events")
        .select(["event_id", "user_id", "value"])
        .assign(eid=F.col("event_id").cast("double"))
    )
    out = ewm_corr(
        events, "value", "eid", alpha=0.3, by=["user_id"], order_by="event_id", alias="v_corr"
    )
    return out.select(["event_id", "user_id", "v_corr"]).to_spark()


@query(
    "resample_by_key",
    oracle=f"""
    SELECT user_id, date_trunc('hour', ts) AS ts,
           {ESUM('value')} AS value_sum,
           count(value)::BIGINT AS value_count
    FROM events
    GROUP BY 1, 2
    """,
)
def resample_by_key(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-group resample (pandas groupby().resample(), resample.py:119
    with a TimeGrouper): one groupBy(key, window) — the tumbling
    bucket rides the same shuffle as the group key."""
    events = _t(spark, sf_dir, "events")
    return (
        events.resample("1h", on="ts", by=["user_id"])
        .agg({"value": ["sum", "count"]})
        .to_spark()
    )


@query(
    "expanding_corr",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(*) OVER w >= 2
                THEN corr(value, event_id::DOUBLE) OVER w
           END AS v_corr
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def expanding_corr(spark: SparkSession, sf_dir: str) -> SparkDF:
    """expanding().corr (window/expanding.py pairwise) — inherited
    frame-legal window aggregate over an unbounded-preceding frame,
    one pass, no UDF."""
    from pandas_spark.window import Expanding

    events = _t(spark, sf_dir, "events").assign(eid=F.col("event_id").cast("double"))
    e = Expanding(events, on="event_id", by=["user_id"])
    return (
        e.corr("value", "eid", alias="v_corr")
        .select(["event_id", "user_id", "v_corr"])
        .to_spark()
    )


@query(
    "rolling_skew_kurt",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(value) OVER w >= 20 THEN skewness(value) OVER w END AS v_skew,
           CASE WHEN count(value) OVER w >= 20 THEN kurtosis(value) OVER w END AS v_kurt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_skew_kurt(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling(20).skew()/.kurt() per key (aggregations.pyx:529,686):
    windowed G1/G2 composites — DuckDB's windowed skewness/kurtosis
    use the same bias-adjusted formulas."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 20, on="event_id", by=["user_id"])
    out = r.skew("value", alias="v_skew")
    out = Rolling(out, 20, on="event_id", by=["user_id"]).kurt("value", alias="v_kurt")
    return out.select(["event_id", "user_id", "v_skew", "v_kurt"]).to_spark()


@query(
    "expanding_skew_kurt",
    oracle="""
    SELECT event_id, user_id,
           skewness(value) OVER w AS v_skew,
           kurtosis(value) OVER w AS v_kurt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def expanding_skew_kurt(spark: SparkSession, sf_dir: str) -> SparkDF:
    """expanding().skew()/.kurt() per key — the same windowed G1/G2
    composites as rolling, over an unbounded-preceding frame."""
    from pandas_spark.window import Expanding

    events = _t(spark, sf_dir, "events")
    out = Expanding(events, on="event_id", by=["user_id"]).skew("value", alias="v_skew")
    out = Expanding(out, on="event_id", by=["user_id"]).kurt("value", alias="v_kurt")
    return out.select(["event_id", "user_id", "v_skew", "v_kurt"]).to_spark()


@query(
    "ffill_limit",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'purchase' THEN value END AS pv,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events
    ),
    m AS (
        SELECT *,
               last_value(pv IGNORE NULLS) OVER wp AS pv_f,
               last_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS)
                   OVER wp AS prn
        FROM s
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN pv IS NOT NULL THEN pv
                WHEN rn - prn <= 2 THEN pv_f END AS pv_lim
    FROM m
    """,
)
def ffill_limit(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Per-group ffill with limit=2 (generic.py:7292 ffill limit=):
    only the first two rows of each NULL gap fill — a row-distance
    window predicate on top of the plain last(ignorenulls) fill."""
    events = _t(spark, sf_dir, "events")
    sparse = DataFrame(
        events.spark.withColumn(
            "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
        )
    )
    out = sparse.groupby("user_id").ffill(
        "pv", alias="pv_lim", order_by="event_id", limit=2
    )
    return out.select(["event_id", "user_id", "pv_lim"]).to_spark()


@query(
    "interpolate_limit",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'purchase' THEN value END AS pv,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events
    ),
    m AS (
        SELECT *,
               last_value(pv IGNORE NULLS) OVER wp AS prev_v,
               first_value(pv IGNORE NULLS) OVER wn AS next_v,
               last_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS prev_r,
               first_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS next_r
        FROM s
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           CASE WHEN pv IS NOT NULL THEN pv
                WHEN rn - prev_r <= 2 THEN
                    CASE WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                         THEN prev_v + (next_v - prev_v) * (rn - prev_r) / (next_r - prev_r)
                         ELSE prev_v END
           END AS pv
    FROM m
    """,
)
def interpolate_limit(spark: SparkSession, sf_dir: str) -> SparkDF:
    """interpolate(limit=2) (generic.py:8113): at most two consecutive
    NULLs fill after each valid value — row-distance cap on both the
    interior linear fill and the trailing ffill."""
    events = _t(spark, sf_dir, "events")
    sparse = DataFrame(
        events.spark.withColumn(
            "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
        )
    ).sort_values("event_id")
    out = sparse.interpolate(subset=["pv"], by=["user_id"], limit=2)
    return out.select(["event_id", "user_id", "pv"]).to_spark()


@query(
    "expanding_quantile",
    oracle="""
    SELECT event_id, user_id,
           quantile_cont(value, 0.5) OVER w AS v_med,
           quantile_cont(value, 0.9) OVER w AS v_p90
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def expanding_quantile(spark: SparkSession, sf_dir: str) -> SparkDF:
    """expanding().quantile(q) per key — inherited from the rolling
    sorted-frame kernel (aggregations.pyx:1404 roll_quantile over an
    unbounded-preceding frame). O(n log n) per row on the growing
    frame — the documented cost of exact expanding quantiles; the
    mergeable GK sketch (groupby.quantile approx=True) is the
    scale path when the frame grows unbounded."""
    from pandas_spark.window import Expanding

    events = _t(spark, sf_dir, "events")
    out = Expanding(events, on="event_id", by=["user_id"]).quantile(
        "value", 0.5, alias="v_med"
    )
    out = Expanding(out, on="event_id", by=["user_id"]).quantile(
        "value", 0.9, alias="v_p90"
    )
    return out.select(["event_id", "user_id", "v_med", "v_p90"]).to_spark()


@query(
    "rolling_closed_left",
    oracle="""
    SELECT event_id, user_id, ts,
           avg(value) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                         AND INTERVAL 1 MICROSECOND PRECEDING) AS v_prev_1h
    FROM events
    """,
)
def rolling_closed_left(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling('1h', closed='left') — the look-BEHIND window that
    excludes the current observation (leakage-free feature windows;
    window/rolling.py closed= endpoint rules): [t-1h, t) per user."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, "1h", on="ts", by=["user_id"], min_periods=1, closed="left")
    return r.mean("value", alias="v_prev_1h").select(
        ["event_id", "user_id", "ts", "v_prev_1h"]
    ).to_spark()


@query(
    "rolling_closed_both",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(value) OVER w >= 5 THEN avg(value) OVER w END AS v_mean6
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_closed_both(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling(5, closed='both') — fixed window keeping BOTH endpoints
    ([i-5, i], six rows; indexers/objects.py:108 endpoint table),
    min_periods inherits the window size (5)."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 5, on="event_id", by=["user_id"], closed="both")
    return r.mean("value", alias="v_mean6").select(
        ["event_id", "user_id", "v_mean6"]
    ).to_spark()


@query(
    "groupby_sum_min_count",
    oracle=f"""
    SELECT user_id,
           CASE WHEN count(value) >= 67 THEN {ESUM('value')} END AS value
    FROM events GROUP BY user_id
    """,
)
def groupby_sum_min_count(spark: SparkSession, sf_dir: str) -> SparkDF:
    """groupby().sum(min_count=) (groupby/groupby.py:3052): NULL for
    groups with fewer than min_count non-null values — one extra count
    inside the same hash-agg pass."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select(["user_id", "value"])
        .groupby("user_id")
        .sum(min_count=67)
        .to_spark()
    )


@query(
    "rolling_sem",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN count(value) OVER w >= 5
                THEN stddev_samp(value) OVER w / sqrt(count(value) OVER w) END
               AS v_sem
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_sem(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling.sem() (window/rolling.py sem: s/sqrt(n)) — both
    components frame-legal window aggregates, one pass."""
    from pandas_spark.window import Rolling

    events = _t(spark, sf_dir, "events")
    r = Rolling(events, 5, on="event_id", by=["user_id"])
    return r.sem("value", alias="v_sem").select(
        ["event_id", "user_id", "v_sem"]
    ).to_spark()


@query(
    "merge_asof_left_by",
    oracle="""
    WITH clicks AS (
        SELECT user_id AS uid_l, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id AS uid_r, ts, value AS pvalue FROM events
        WHERE event_type = 'purchase'
    )
    SELECT c.uid_l, c.ts, c.event_id, p.pvalue
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.uid_l = p.uid_r AND c.ts >= p.ts
    """,
)
def merge_asof_left_by(spark: SparkSession, sf_dir: str) -> SparkDF:
    """merge_asof(left_by=, right_by=) (merge.py:644): differently-named
    per-side group keys, normalized by renaming the right side - the
    same union+window plan as by=."""
    from pandas_spark.operators.joins import merge_asof

    events = _t(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(["user_id", "ts", "event_id"])
        .rename({"user_id": "uid_l"})
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(["user_id", "ts", "value"])
        .rename({"user_id": "uid_r", "value": "pvalue"})
    )
    out = merge_asof(
        clicks, purchases, on="ts", left_by="uid_l", right_by="uid_r",
        direction="backward",
    )
    return out.select(["uid_l", "ts", "event_id", "pvalue"]).to_spark()


@query(
    "expanding_rank",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, value,
               list(value) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lst
        FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN value IS NOT NULL
                THEN (len(list_filter(lst, v -> v < value))
                      + len(list_filter(lst, v -> v <= value)) + 1) / 2.0
           END AS value_rank
    FROM l
    """,
)
def expanding_rank(spark: SparkSession, sf_dir: str) -> SparkDF:
    """expanding().rank() per key (aggregations.pyx:1528 roll_rank on
    an unbounded-preceding frame) — inherited from the rolling lt/le
    HOF kernel via the Expanding frame spec."""
    from pandas_spark.window import Expanding

    events = _t(spark, sf_dir, "events")
    e = Expanding(events, on="event_id", by=["user_id"])
    return e.rank("value", alias="value_rank").select(
        ["event_id", "user_id", "value_rank"]
    ).to_spark()


@query(
    "expanding_nunique",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id,
               list(event_type) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lst
        FROM events
    )
    SELECT event_id, user_id,
           len(list_distinct(list_filter(lst, v -> v IS NOT NULL)))::BIGINT
               AS et_nunique
    FROM l
    """,
)
def expanding_nunique(spark: SparkSession, sf_dir: str) -> SparkDF:
    """expanding().nunique() per key (aggregations.pyx:1636
    roll_nunique, unbounded frame) — running distinct-count of event
    types seen so far per user."""
    from pandas_spark.window import Expanding

    events = _t(spark, sf_dir, "events")
    e = Expanding(events, on="event_id", by=["user_id"])
    return e.nunique("event_type", alias="et_nunique").select(
        ["event_id", "user_id", "et_nunique"]
    ).to_spark()


@query(
    "sessionize_events",
    oracle="""
    WITH g AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT event_id, user_id,
           (sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_id
    FROM g
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Batch gap-sessionization (30min) per user — the batch twin of
    streaming_session_windows with the SAME break rule, so history and
    live tail assign aligned session ordinals. lag → break flag →
    running sum; one shuffle on the key."""
    from pandas_spark.window import sessionize

    events = _t(spark, sf_dir, "events")
    out = sessionize(events, on="ts", gap="30min", by=["user_id"])
    return out.select(["event_id", "user_id", "session_id"]).to_spark()


@query(
    "value_counts_bins",
    oracle="""
    WITH b AS (
        SELECT min(l_quantity)::DOUBLE AS mn, max(l_quantity)::DOUBLE AS mx
        FROM lineitem
    )
    SELECT 'q' || (greatest(ceil((l_quantity - mn) / ((mx - mn) / 4)), 1))::INT
               AS l_quantity,
           count(*)::BIGINT AS count
    FROM lineitem, b
    GROUP BY 1
    """,
)
def value_counts_bins(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Series.value_counts(bins=4) (base.py:834 -> tile.py): equal-width
    right-closed bins over [min, max] with the leftmost edge extended —
    a 2-scalar bounded collect for the range, then a codegen'd
    chained-when bin + one groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.value_counts(
        subset="l_quantity", bins=4, bin_labels=["q1", "q2", "q3", "q4"], sort=False
    )
    return out.to_spark()


@query(
    "row_reductions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity + l_extendedprice + l_discount + l_tax AS row_sum,
           (l_quantity + l_extendedprice + l_discount + l_tax) / 4 AS row_mean,
           greatest(l_quantity, l_extendedprice, l_discount, l_tax) AS row_max,
           least(l_quantity, l_extendedprice, l_discount, l_tax) AS row_min,
           4::BIGINT AS row_count,
           (list_sort([l_quantity, l_extendedprice, l_discount, l_tax])[2]
            + list_sort([l_quantity, l_extendedprice, l_discount, l_tax])[3]) / 2.0
               AS row_median
    FROM lineitem
    WHERE l_orderkey < 1000
    """,
)
def row_reductions(spark: SparkSession, sf_dir: str) -> SparkDF:
    """df.sum/mean/max/min/count(axis=1) (generic.py _stat_function
    axis=1 over nanops kernels): row-wise reductions as map-only array
    HOFs — no shuffle, codegen'd, scan-width pruned to the 4 inputs."""
    li = _t(spark, sf_dir, "lineitem")
    sub = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    out = li.filter(col("l_orderkey") < 1000)
    for fn in ("sum", "mean", "max", "min", "count", "median"):
        out = out.reduce_rows(fn, subset=sub)
    return out.select(
        ["l_orderkey", "l_linenumber", "row_sum", "row_mean", "row_max", "row_min", "row_count", "row_median"]
    ).to_spark()


@query(
    "interpolate_nearest",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'purchase' THEN value END AS pv,
               epoch_us(ts) / 1000000.0 AS x,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    m AS (
        SELECT *,
               last_value(pv IGNORE NULLS) OVER wp AS prev_v,
               first_value(pv IGNORE NULLS) OVER wn AS next_v,
               last_value(CASE WHEN pv IS NOT NULL THEN x END IGNORE NULLS) OVER wp AS prev_x,
               first_value(CASE WHEN pv IS NOT NULL THEN x END IGNORE NULLS) OVER wn AS next_x
        FROM s
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           CASE WHEN pv IS NOT NULL THEN pv
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                     CASE WHEN (x - prev_x) <= (next_x - x) THEN prev_v ELSE next_v END
                ELSE prev_v END AS pv
    FROM m
    """,
)
def interpolate_nearest(spark: SparkSession, sf_dir: str) -> SparkDF:
    """interpolate(method='nearest') (missing.py:227 NP_METHODS):
    interior NULLs take the time-closer neighbor, midpoint ties round
    down to the previous value (scipy interp1d kind='nearest')."""
    events = _t(spark, sf_dir, "events")
    sparse = DataFrame(
        events.spark.withColumn(
            "pv", F.when(F.col("event_type") == "purchase", F.col("value"))
        )
    ).sort_values("event_id")
    out = sparse.interpolate(subset=["pv"], by=["user_id"], method="nearest", on="ts")
    return out.select(["event_id", "user_id", "pv"]).to_spark()


@query(
    "concat_keys",
    oracle="""
    SELECT 'hi' AS src, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000
    UNION ALL
    SELECT 'lo' AS src, o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 20000
    """,
)
def concat_keys(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.concat(keys=, names=) (reshape/concat.py:149): the source tag
    becomes a literal label column — map-side constant, and the natural
    partition column when the result is written out."""
    orders = _t(spark, sf_dir, "orders")
    hi = orders.filter(col("o_totalprice") > 200000).select(["o_orderkey", "o_totalprice"])
    lo = orders.filter(col("o_totalprice") < 20000).select(["o_orderkey", "o_totalprice"])
    return ps.concat([hi, lo], keys=["hi", "lo"], names=["src"]).to_spark()


@query(
    "groupby_nlargest",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def groupby_nlargest(spark: SparkSession, sf_dir: str) -> SparkDF:
    """SeriesGroupBy.nlargest: top-3 orders per customer by price —
    one group-partition window, ties broken by the declared order."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.select(["o_custkey", "o_orderkey", "o_totalprice"])
        .sort_values("o_orderkey")
        .groupby("o_custkey")
        .nlargest("o_totalprice", 3)
    )
    return out.to_spark()


@query(
    "frame_cov_matrix",
    oracle="""
    WITH cols AS (SELECT l_quantity q, l_extendedprice p, l_discount d FROM lineitem)
    SELECT * FROM (
        SELECT 'l_quantity' AS col1, 'l_quantity' AS col2, covar_samp(q, q) AS cov FROM cols
        UNION ALL SELECT 'l_quantity', 'l_extendedprice', covar_samp(q, p) FROM cols
        UNION ALL SELECT 'l_quantity', 'l_discount', covar_samp(q, d) FROM cols
        UNION ALL SELECT 'l_extendedprice', 'l_quantity', covar_samp(p, q) FROM cols
        UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', covar_samp(p, p) FROM cols
        UNION ALL SELECT 'l_extendedprice', 'l_discount', covar_samp(p, d) FROM cols
        UNION ALL SELECT 'l_discount', 'l_quantity', covar_samp(d, q) FROM cols
        UNION ALL SELECT 'l_discount', 'l_extendedprice', covar_samp(d, p) FROM cols
        UNION ALL SELECT 'l_discount', 'l_discount', covar_samp(d, d) FROM cols
    )
    """,
)
def frame_cov_matrix(spark: SparkSession, sf_dir: str) -> SparkDF:
    """df.cov() (frame.py:15902): the full pairwise covariance matrix
    in long form, all pairs in one Tungsten aggregation pass."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cov(subset=["l_quantity", "l_extendedprice", "l_discount"]).to_spark()


# ---------------------------------------------------------------------------
# Round 5: win_type tapers + ewm adjust=False / halflife
# ---------------------------------------------------------------------------

# gaussian(m=5, std=2) taper, sym form: exp(-(i-2)^2 / (2*std^2))
_G5 = (0.6065306597126334, 0.8824969025845955, 1.0,
       0.8824969025845955, 0.6065306597126334)


@query(
    "rolling_win_type_gaussian",
    oracle=f"""
    SELECT event_id, user_id,
           CASE WHEN row_number() OVER w >= 5 THEN
               ({_G5[0]}*lag(value, 4) OVER w + {_G5[1]}*lag(value, 3) OVER w
                + {_G5[2]}*lag(value, 2) OVER w + {_G5[3]}*lag(value, 1) OVER w
                + {_G5[4]}*value) / {sum(_G5)!r}
           END AS value_wm
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def rolling_win_type_gaussian(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling(win_type='gaussian').mean(std=2) — engine-generated
    scipy-style taper (window/rolling.py:862) feeding the array-HOF
    weighted-dot kernel; full windows only (pandas' default
    min_periods == window). Oracle spells out the 5-tap convolution."""
    events = _t(spark, sf_dir, "events").select(["event_id", "user_id", "value"])
    out = events.rolling(5, by=["user_id"], on="event_id", win_type="gaussian").mean(
        "value", alias="value_wm", std=2.0
    )
    return out.select(["event_id", "user_id", "value_wm"]).to_spark()


@query(
    "ewm_adjust_false",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id,
               list(value) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lst
        FROM events
    )
    SELECT event_id, user_id,
           lst[1] * 0.7 ** (len(lst) - 1)
           + coalesce(list_sum(list_transform(range(2, len(lst) + 1),
                               i -> 0.3 * 0.7 ** (len(lst) - i) * lst[i])), 0)
               AS value_ewm
    FROM l
    """,
)
def ewm_adjust_false(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ewm(adjust=False).mean (window/ewm.py:127) — the streaming
    recurrence y_t = (1-a)y_{t-1} + a*x_t. Oracle is its closed form:
    y_t = (1-a)^t x_0 + a * sum (1-a)^(t-i) x_i."""
    from pandas_spark.window import ewm_mean as ewm

    events = _t(spark, sf_dir, "events").select(["event_id", "user_id", "value"])
    out = ewm(events, "value", alpha=0.3, adjust=False, by=["user_id"],
              order_by="event_id", alias="value_ewm")
    return out.select(["event_id", "user_id", "value_ewm"]).to_spark()


@query(
    "ewm_halflife",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id,
               list(value) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lst
        FROM events
    )
    SELECT event_id, user_id,
           list_sum(list_transform(range(1, len(lst)+1),
                    i -> lst[i] * 0.7071067811865476 ** (len(lst)-i)))
           / list_sum(list_transform(range(1, len(lst)+1),
                      i -> 0.7071067811865476 ** (len(lst)-i)))
               AS value_ewm
    FROM l
    """,
)
def ewm_halflife(spark: SparkSession, sf_dir: str) -> SparkDF:
    """ewm(halflife=2).mean — decay parameterized by halflife:
    1-a = exp(ln(1/2)/hl) = 2^(-1/2) for hl=2; oracle is the
    adjust=True weighted form with that ratio."""
    from pandas_spark.window import ewm_mean as ewm

    events = _t(spark, sf_dir, "events").select(["event_id", "user_id", "value"])
    out = ewm(events, "value", halflife=2.0, by=["user_id"],
              order_by="event_id", alias="value_ewm")
    return out.select(["event_id", "user_id", "value_ewm"]).to_spark()


@query(
    "groupby_nlargest_all",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC NULLS LAST) AS rk,
               count(o_totalprice) OVER (PARTITION BY o_custkey) AS nn
        FROM orders
    ) WHERE (o_totalprice IS NOT NULL AND rk <= 2) OR nn < 2
    """,
)
def groupby_nlargest_all(spark: SparkSession, sf_dir: str) -> SparkDF:
    """nlargest(keep='all') (groupby/generic.py; selectn.py): rank over
    the VALUE only, so rows tied with the boundary all survive; NULL
    values are excluded from the ranking, and a group whose non-null
    rows run out before n returns all its rows (pandas' findex rule —
    vacuous on this NULL-free column, encoded in the oracle so the SQL
    states the full semantics)."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.select(["o_custkey", "o_orderkey", "o_totalprice"])
        .sort_values("o_orderkey")
        .groupby("o_custkey")
        .nlargest("o_totalprice", 2, keep="all")
    )
    return out.to_spark()


@query(
    "skew_report_full",
    oracle="""
    WITH c AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ), t AS (
        SELECT sum(cnt) AS total, count(*) AS groups FROM c
    )
    SELECT c.user_id, c.cnt,
           c.cnt / t.total AS share,
           c.cnt * t.groups / t.total AS skew
    FROM c, t
    ORDER BY c.cnt DESC, c.user_id
    """,
)
def skew_report_full(spark: SparkSession, sf_dir: str) -> SparkDF:
    """skew_report(top_n=None) — the FULL key profile with no limit()
    in the plan (a parallel range sort over the reduced counts; the
    round-4 OOM came from orderBy().limit(10^9) eagerly allocating an
    O(top_n) buffer)."""
    from pandas_spark.operators import diagnostics

    events = _t(spark, sf_dir, "events")
    return diagnostics.skew_report(events, "user_id", top_n=None).to_spark()


@query(
    "interpolate_pad_on",
    oracle="""
    SELECT event_id, user_id,
           coalesce(value,
                    last_value(value IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS value
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
          FROM events)
    """,
)
def interpolate_pad_on(spark: SparkSession, sf_dir: str) -> SparkDF:
    """interpolate(method='pad', on='ts') — pad must fill in on= order
    (missing.py:227 clean_interp_method), matching the other methods,
    not the frame's declared row order."""
    events = _t(spark, sf_dir, "events").select(["event_id", "user_id", "ts", "value"])
    holey = events.assign(
        value=F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    )
    out = holey.sort_values("event_id").interpolate(
        subset=["value"], method="pad", on="ts", by=["user_id"]
    )
    return out.select(["event_id", "user_id", "value"]).to_spark()


@query(
    "groupby_sum_allnull_identity",
    oracle="""
    SELECT event_type,
           COALESCE({esum}, 0) AS purchase_total,
           count(pv)::BIGINT AS n_nonnull
    FROM (SELECT event_type,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM events)
    GROUP BY event_type
    """.format(esum=ESUM("pv")),
)
def groupby_sum_allnull_identity(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pandas skipna reduction identity (core/groupby sum min_count=0):
    a group whose values are ALL missing sums to 0, not NULL — SQL's
    SUM returns NULL there, hence the COALESCE in the oracle. Every
    non-purchase event_type group is all-NULL by construction."""
    events = _t(spark, sf_dir, "events")
    masked = events.assign(
        pv=F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    return (
        masked.groupby("event_type")
        .agg(purchase_total=("pv", "sum"), n_nonnull=("pv", "count"))
        .to_spark()
    )


@query(
    "interpolate_cubicspline",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id,
               (event_id / 100000.0) AS u
        FROM events
    ),
    p AS (
        SELECT event_id, user_id,
               (u*u*u - 5*u*u + 3*u + 7) AS poly,
               (event_id % 7 != 3) AS valid
        FROM b
    ),
    eligible AS (
        SELECT user_id FROM p WHERE valid GROUP BY user_id HAVING count(*) >= 4
    )
    SELECT p.event_id, p.user_id,
           ROUND(CASE WHEN NOT valid AND p.event_id <
                      (SELECT min(q.event_id) FROM p q
                       WHERE q.user_id = p.user_id AND q.valid)
                 THEN NULL ELSE poly END, 4) AS y
    FROM p JOIN eligible USING (user_id)
    """,
)
def interpolate_cubicspline(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Closed-form spline oracle: a not-a-knot cubic spline through
    samples of a cubic polynomial IS that polynomial — everywhere,
    including trailing extrapolation — so DuckDB can compute the
    expected fill directly. Leading NULLs stay NULL (forward
    direction); groups need >=4 valid knots for the general spline
    path (fewer degenerate to parabola/line, where the property does
    not hold), enforced identically on both sides. Rounded to 4
    decimals on both sides: the spline solve reproduces the polynomial
    to ~1e-10, not bit-exactly."""
    ev = _t(spark, sf_dir, "events").select(["event_id", "user_id"])
    u = F.col("event_id") / F.lit(100000.0)
    poly = u * u * u - F.lit(5.0) * u * u + F.lit(3.0) * u + F.lit(7.0)
    holey = ev.assign(y=F.when(F.col("event_id") % 7 != 3, poly))
    counts = holey.groupby("user_id").agg(nv=("y", "count"))
    eligible = holey.merge(
        counts.filter(col("nv") >= 4), on="user_id", how="inner"
    ).drop("nv")
    out = eligible.interpolate(
        subset=["y"], method="cubicspline", by=["user_id"], on="event_id"
    )
    return (
        out.assign(y=F.round(F.col("y"), 4))
        .select(["event_id", "user_id", "y"])
        .to_spark()
    )


@query(
    "interpolate_pchip",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id,
               (2.5 * (event_id / 1000.0) - 4.0) AS lin,
               (event_id % 5 != 2) AS valid
        FROM events
    )
    SELECT p.event_id, p.user_id,
           ROUND(CASE WHEN NOT valid AND p.event_id <
                      (SELECT min(q.event_id) FROM p q
                       WHERE q.user_id = p.user_id AND q.valid)
                 THEN NULL ELSE lin END, 6) AS y
    FROM p
    WHERE p.user_id IN (SELECT user_id FROM p WHERE valid
                        GROUP BY user_id HAVING count(*) >= 2)
    """,
)
def interpolate_pchip(spark: SparkSession, sf_dir: str) -> SparkDF:
    """PCHIP linear-reproduction oracle (Fritsch-Carlson design
    property: on data from a straight line every derivative equals the
    slope, so the Hermite fill IS the line — to fp round-off, hence
    the 6-decimal rounding on both sides). Leading NULLs stay; >=2
    valid knots per group required, enforced identically."""
    ev = _t(spark, sf_dir, "events").select(["event_id", "user_id"])
    lin = F.lit(2.5) * (F.col("event_id") / F.lit(1000.0)) - F.lit(4.0)
    holey = ev.assign(y=F.when(F.col("event_id") % 5 != 2, lin))
    counts = holey.groupby("user_id").agg(nv=("y", "count"))
    eligible = holey.merge(
        counts.filter(col("nv") >= 2), on="user_id", how="inner"
    ).drop("nv")
    out = eligible.interpolate(
        subset=["y"], method="pchip", by=["user_id"], on="event_id"
    )
    return (
        out.assign(y=F.round(F.col("y"), 6))
        .select(["event_id", "user_id", "y"])
        .to_spark()
    )


@query(
    "interpolate_quadratic",
    oracle="""
    WITH b AS (
        SELECT event_id, user_id,
               (event_id / 100000.0) AS u
        FROM events
    ),
    p AS (
        SELECT event_id, user_id,
               (2*u*u - 3*u + 1) AS poly,
               (event_id % 6 != 4) AS valid
        FROM b
    ),
    eligible AS (
        SELECT user_id FROM p WHERE valid GROUP BY user_id HAVING count(*) >= 3
    )
    SELECT p.event_id, p.user_id,
           ROUND(CASE WHEN NOT valid AND p.event_id <
                      (SELECT min(q.event_id) FROM p q
                       WHERE q.user_id = p.user_id AND q.valid)
                 THEN NULL ELSE poly END, 4) AS y
    FROM p JOIN eligible USING (user_id)
    """,
)
def interpolate_quadratic(spark: SparkSession, sf_dir: str) -> SparkDF:
    """interp1d-family order-2 spline (B-spline collocation, midpoint
    knots — make_interp_spline's public k=2 rule): an order-2 spline
    through samples of a quadratic IS that quadratic, everywhere
    including extrapolation, so the oracle computes the fill in closed
    form. Groups need >= 3 valid knots (the k+1 minimum); leading
    NULLs stay (forward direction)."""
    ev = _t(spark, sf_dir, "events").select(["event_id", "user_id"])
    u = F.col("event_id") / F.lit(100000.0)
    poly = F.lit(2.0) * u * u - F.lit(3.0) * u + F.lit(1.0)
    holey = ev.assign(y=F.when(F.col("event_id") % 6 != 4, poly))
    counts = holey.groupby("user_id").agg(nv=("y", "count"))
    eligible = holey.merge(
        counts.filter(col("nv") >= 3), on="user_id", how="inner"
    ).drop("nv")
    out = eligible.interpolate(
        subset=["y"], method="quadratic", by=["user_id"], on="event_id"
    )
    return (
        out.assign(y=F.round(F.col("y"), 4))
        .select(["event_id", "user_id", "y"])
        .to_spark()
    )


@query(
    "interpolate_limit_both",
    oracle="""
    WITH s AS (
        SELECT event_id, user_id,
               CASE WHEN event_type = 'purchase' THEN value END AS pv,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events
    ),
    m AS (
        SELECT *,
               last_value(pv IGNORE NULLS) OVER wp AS prev_v,
               first_value(pv IGNORE NULLS) OVER wn AS next_v,
               last_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS prev_r,
               first_value(CASE WHEN pv IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS next_r
        FROM s
        WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           CASE WHEN pv IS NOT NULL THEN pv
                WHEN NOT (coalesce(rn - prev_r <= 2, FALSE)
                          OR coalesce(next_r - rn <= 2, FALSE)) THEN NULL
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                     THEN prev_v + (next_v - prev_v) * (rn - prev_r) / (next_r - prev_r)
                WHEN prev_v IS NULL THEN next_v
                ELSE prev_v END AS pv
    FROM m
    """,
)
def interpolate_limit_both(spark: SparkSession, sf_dir: str) -> SparkDF:
    """limit_direction='both' with limit=2 (generic.py interpolate
    surface): interior gaps interpolate, leading NULLs backfill from
    the first valid, trailing carry the last valid — each position only
    within 2 rows of a valid value on either side. The oracle restates
    the full region/limit rule in SQL windows."""
    ev = _t(spark, sf_dir, "events").sort_values(["event_id"])
    holey = ev.assign(
        pv=F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    out = holey.interpolate(
        subset=["pv"], by=["user_id"], limit_direction="both", limit=2
    )
    return out.select(["event_id", "user_id", "pv"]).to_spark()


@query(
    "period_month_rollup",
    oracle="""
    SELECT CAST((year(ts) - 1970) * 12 + month(ts) - 1 AS BIGINT) AS ordinal,
           strftime(date_trunc('month', ts), '%Y-%m')             AS label,
           date_trunc('month', ts)::TIMESTAMP                     AS period_start,
           count(*)::BIGINT                                       AS n
    FROM events GROUP BY 1, 2, 3
    """,
)
def period_month_rollup(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Period struct dtype end-to-end (reference core/arrays/period.py;
    representation functions/periods.py): to_period('M') is a map-only
    closed-form projection, groupBy shuffles the 16-byte struct, label
    and start_time are recovered from the ordinal JVM-side."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.assign(p=ps.to_period(col("ts"), "M"))
        .groupby("p")
        .agg(n=("event_id", "size"))
        .assign(
            ordinal=F.col("p").getField("ordinal"),
            label=ps.period_str(col("p"), "M"),
            period_start=ps.period_start_time(col("p"), "M"),
        )
        .select(["ordinal", "label", "period_start", "n"])
        .to_spark()
    )


@query(
    "period_asfreq_quarter",
    oracle="""
    SELECT CAST((year(ts) - 1970) * 4 + quarter(ts) - 1 AS BIGINT) AS ordinal,
           year(ts)::VARCHAR || 'Q' || quarter(ts)::VARCHAR        AS label,
           count(*)::BIGINT                                        AS n
    FROM events GROUP BY 1, 2
    """,
)
def period_asfreq_quarter(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Period.asfreq M->Q (reference period.pyx Period.asfreq,
    how='end' default): monthly periods re-tagged to the containing
    quarter, then rolled up — the ordinal remap is pure integer
    arithmetic, no timestamp rebuild ever leaves the JVM."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.assign(p=ps.to_period(col("ts"), "M"))
        .assign(q=ps.period_asfreq(col("p"), "Q", how="end", from_freq="M"))
        .groupby("q")
        .agg(n=("event_id", "size"))
        .assign(
            ordinal=F.col("q").getField("ordinal"),
            label=ps.period_str(col("q"), "Q"),
        )
        .select(["ordinal", "label", "n"])
        .to_spark()
    )


@query(
    "period_week_spine",
    oracle="""
    WITH w AS (
        SELECT unnest(generate_series(
            DATE '1995-01-09', DATE '1995-02-27', INTERVAL 7 DAY))::DATE AS ws
    )
    SELECT CAST((date_diff('day', DATE '1970-01-01', ws) + 10) // 7 AS BIGINT) AS ordinal,
           ws::TIMESTAMP AS period_start,
           (ws + INTERVAL 7 DAY)::TIMESTAMP - INTERVAL 1 MICROSECOND AS period_end,
           strftime(ws, '%Y-%m-%d') || '/' || strftime(ws + INTERVAL 6 DAY, '%Y-%m-%d') AS label
    FROM w
    """,
)
def period_week_spine(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.period_range(freq='W-SUN') under the struct representation:
    the spine is a distributed spark.range over ordinals (bounds from
    pandas' own Period, bit-identical); start/end/label recovered
    closed-form. The oracle enumerates the same Mondays directly."""
    sp = ps.period_range_struct(spark, "1995-01-15", "1995-03-02", freq="W")
    return (
        sp.assign(
            ordinal=F.col("period").getField("ordinal"),
            period_start=ps.period_start_time(col("period"), "W"),
            period_end=ps.period_end_time(col("period"), "W"),
            label=ps.period_str(col("period"), "W"),
        )
        .select(["ordinal", "period_start", "period_end", "label"])
        .to_spark()
    )


@query(
    "period_bday_roll",
    oracle="""
    WITH e AS (
        SELECT date_diff('day', DATE '1970-01-01', ts::DATE) AS d FROM events
    ), r AS (
        SELECT CASE WHEN (d + 3) % 7 > 4 THEN d + (7 - (d + 3) % 7) ELSE d END AS db
        FROM e
    )
    SELECT CAST(((db + 4) // 7) * 5 + (db + 4) % 7 - 4 AS BIGINT) AS ordinal,
           strftime(DATE '1970-01-01' + db::INTEGER, '%Y-%m-%d')  AS label,
           count(*)::BIGINT                                       AS n
    FROM r GROUP BY 1, 2
    """,
)
def period_bday_roll(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Business-day periods (reference period.pyx DtoB): weekend
    events roll forward to Monday's period, weekday events keep their
    day — differential-tested against pd.Period in tests/test_periods.py;
    the oracle restates the roll + weekday-count rule in SQL."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.assign(p=ps.to_period(col("ts"), "B"))
        .groupby("p")
        .agg(n=("event_id", "size"))
        .assign(
            ordinal=F.col("p").getField("ordinal"),
            label=ps.period_str(col("p"), "B"),
        )
        .select(["ordinal", "label", "n"])
        .to_spark()
    )


@query(
    "frame_cumsum_running_total",
    oracle=f"""
    WITH d AS (
        SELECT ts::DATE AS d, {ESUM('value')} AS total FROM events GROUP BY 1
    )
    SELECT d, total,
           sum(total) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
           CASE WHEN lag(total) OVER (ORDER BY d) = 0 THEN NULL
                ELSE total / lag(total) OVER (ORDER BY d) - 1 END AS pct
    FROM d
    """,
)
def frame_cumsum_running_total(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Frame-level cumsum + pct_change over the declared order
    (reference generic.py:12153 cum_func, :12327 pct_change) — the
    classic running-total-over-dates report. The window is unkeyed by
    definition (same sequential constraint pandas has), applied to the
    PRE-REDUCED daily spine, never the fact table."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.assign(d=F.to_date(F.col("ts")))
        .groupby("d")
        .agg(total=("value", "sum"))
        .sort_values("d")
    )
    return (
        daily.assign(running=col("total"), pct=col("total"))
        .cumsum(["running"])
        .pct_change(columns=["pct"])
        .select(["d", "total", "running", "pct"])
        .to_spark()
    )


@query(
    "frame_scalar_map",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round_even(l_extendedprice / 100, 0) * 100 AS price_100,
           abs(l_discount - 0.05)                     AS disc_dev,
           l_quantity * 2 + 1                         AS q_affine
    FROM lineitem
    """,
)
def frame_scalar_map(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Frame-level round (half-to-even, frame.py:10744) / abs
    (generic.py:1442) / applymap (frame.py:10374, Arrow-batched) as
    map-only projections over the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.select(["l_orderkey", "l_linenumber", "l_extendedprice",
                   "l_discount", "l_quantity"])
        .assign(
            price_100=col("l_extendedprice") / 100,
            disc_dev=col("l_discount") - 0.05,
        )
        .round({"price_100": 0})
        .assign(price_100=col("price_100") * 100)
        .abs(["disc_dev"])
        .applymap(lambda v: v * 2 + 1, subset=["l_quantity"], dtype="double")
    )
    return out.select(
        ["l_orderkey", "l_linenumber", "price_100", "disc_dev", "l_quantity"]
    ).rename(columns={"l_quantity": "q_affine"}).to_spark()


@query(
    "frame_at_time_noon",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE strftime(date_trunc('minute', ts), '%H:%M:%S') = '12:00:00'
    """,
)
def frame_at_time_noon(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.at_time (generic.py:8978): exact wall-clock filter —
    one codegen'd date_format predicate, map-only (applied to the
    minute-truncated stamp so second-resolution data matches)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.assign(tm=F.date_trunc("minute", F.col("ts")))
        .at_time("12:00", on="tm")
        .select(["event_id", "user_id", "event_type"])
        .to_spark()
    )


@query(
    "frame_asfreq_hourly",
    oracle="""
    WITH pick AS (
        SELECT ts, value FROM events WHERE user_id = 7 AND event_type = 'purchase'
    ), b AS (
        SELECT min(ts) AS mn, max(ts) AS mx FROM pick
    ), s AS (
        SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR))::TIMESTAMP AS ts FROM b
    ), j AS (
        SELECT s.ts, p.value FROM s LEFT JOIN pick p USING (ts)
    )
    SELECT ts,
           last_value(value IGNORE NULLS) OVER (
               ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value
    FROM j
    """,
)
def frame_asfreq_hourly(spark: SparkSession, sf_dir: str) -> SparkDF:
    """DataFrame.asfreq (generic.py:9073): hourly reindex of one user's
    sparse purchase stream, pad-filled — spine generated engine-side,
    exact stamps matched with one left equi-join."""
    ev = _t(spark, sf_dir, "events")
    pick = ev.filter((col("user_id") == 7) & (col("event_type") == "purchase")).select(
        ["ts", "value"]
    )
    return pick.asfreq("h", on="ts", method="ffill").to_spark()


@query(
    "sample_weighted",
    oracle="""
    WITH k AS (
        SELECT o_orderkey, o_totalprice,
               ln((('0x' || substr(md5('7' || o_orderkey::VARCHAR), 1, 15))::UBIGINT
                    + 0.5) / 1152921504606846976.0) / o_totalprice AS key
        FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
    )
    SELECT o_orderkey, o_totalprice FROM k
    ORDER BY key DESC, o_orderkey LIMIT 500
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> SparkDF:
    """sample(n=500, weights=) — Efraimidis–Spirakis weighted sampling
    without replacement (generic.py:6056 sample(weights=)), key
    ln(u)/w over the deterministic md5 uniform; one ordered limit,
    driver receipt = n. The oracle restates the key algebra verbatim
    (same md5, same 60-bit uniform)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.sample(n=500, seed=7, id_col="o_orderkey", weights="o_totalprice")
        .select(["o_orderkey", "o_totalprice"])
        .to_spark()
    )


# ---------------------------------------------------------------------------
# batch 27 (round 8): streaming merge_asof — the last unmapped §2.10 row
# ---------------------------------------------------------------------------

@query(
    "streaming_merge_asof",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.ts, c.event_id, p.value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def streaming_merge_asof(spark: SparkSession, sf_dir: str) -> SparkDF:
    """merge_asof(direction='backward', by=) executed THROUGH
    Structured Streaming (streaming/core.py merge_asof_stream: union +
    applyInPandasWithState per key hash bucket, whose state holds each
    of its keys' latest right row) and
    checked against DuckDB's native ASOF JOIN — closing SURVEY §2.10's
    "merge_asof ≙ stream-stream asof join w/ watermark" mapping with
    asof-backward semantics (tolerance_join_stream covers only the
    candidate-set variant)."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    clicks = stream.where("event_type = 'click'").select("user_id", "ts", "event_id")
    purchases = stream.where("event_type = 'purchase'").select("user_id", "ts", "value")
    out = pss.merge_asof_stream(clicks, purchases, on="ts", by=["user_id"])
    pss.run_to_memory(out, "suite_stream_asof", output_mode="append")
    return spark.table("suite_stream_asof")


# ---------------------------------------------------------------------------
# batch 41 (round 9): distributed kendall tau-b — the r8 verdict's last
# whole-frame gathered kernel replaced by the bucket-tiled exact
# decomposition (frame._corr_kendall); oracle is the tau-b DEFINITION
# as a brute-force O(n²) pair self-join on the 100-row supplier table
# ---------------------------------------------------------------------------

@query(
    "kendall_corr",
    oracle="""
    WITH s AS (
        SELECT row_number() OVER ()     AS i,
               s_suppkey::DOUBLE        AS x,
               s_acctbal::DOUBLE        AS y
        FROM supplier
    ),
    p AS (
        SELECT sign(a.x - b.x) * sign(a.y - b.y) AS sg,
               (a.x = b.x)::INT AS ex,
               (a.y = b.y)::INT AS ey
        FROM s a JOIN s b ON a.i < b.i
    ),
    t AS (
        SELECT sum(sg) / sqrt((count(*) - sum(ex)) * (count(*) - sum(ey))) AS tau
        FROM p
    )
    SELECT 's_suppkey' AS col1, 's_suppkey' AS col2, 1.0::DOUBLE AS corr
    UNION ALL
    SELECT 's_suppkey', 's_acctbal', tau FROM t
    UNION ALL
    SELECT 's_acctbal', 's_suppkey', tau FROM t
    UNION ALL
    SELECT 's_acctbal', 's_acctbal', 1.0::DOUBLE
    """,
)
def kendall_corr(spark: SparkSession, sf_dir: str) -> SparkDF:
    """corr(method='kendall'): exact distributed tau-b — quantile-
    bucket tiles (Knight C−D kernel per tile, integer sums) + a
    bounded grid receipt for the cross-bucket term; no gathered
    whole-frame partition (reference frame.py:15791 routes kendall to
    single-core scipy). Oracle = the tau-b definition, brute-forced
    over all pairs."""
    sup = _t(spark, sf_dir, "supplier")
    return sup.corr(subset=["s_suppkey", "s_acctbal"], method="kendall").to_spark()


@query(
    "streaming_merge_asof_buffered",
    oracle="""
    WITH c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-25'),
         p AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase')
    SELECT c.user_id, c.ts, c.event_id, p.value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def streaming_merge_asof_buffered(spark: SparkSession, sf_dir: str) -> SparkDF:
    """The r9 watermark-BUFFERED streaming asof (streaming/core.py
    _merge_asof_stream_buffered): per-key buffers inside the lateness
    horizon, Spark's global event-time watermark + event-time timers
    drive finalization — out-of-order arrival within lateness is
    handled, unlike the ordered-contract fast path. lateness='0
    seconds' + a left cutoff below the stream's max stamp makes a
    bounded run emit every restricted left, so the DuckDB ASOF oracle
    is exact."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    clicks = stream.where(
        "event_type = 'click' AND ts < TIMESTAMP '2024-01-25'"
    ).select("user_id", "ts", "event_id")
    purchases = stream.where("event_type = 'purchase'").select("user_id", "ts", "value")
    out = pss.merge_asof_stream(
        clicks, purchases, on="ts", by=["user_id"],
        direction="backward", lateness="0 seconds",
    )
    pss.run_to_memory(out, "suite_stream_asof_buf", output_mode="append")
    return spark.table("suite_stream_asof_buf")


@query(
    "streaming_merge_asof_fwd",
    oracle="""
    WITH c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-25'),
         p AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase')
    SELECT c.user_id, c.ts, c.event_id,
           CASE WHEN p.ts - c.ts <= INTERVAL '1 day' THEN p.value END AS value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def streaming_merge_asof_fwd(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Streaming asof direction='forward' (r8 verdict missing #3): the
    buffered regime's first-right-at-or-after match; tolerance both
    nulls far matches and bounds how long a no-candidate left pends
    (finalizes once ts+tolerance clears the watermark)."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    clicks = stream.where(
        "event_type = 'click' AND ts < TIMESTAMP '2024-01-25'"
    ).select("user_id", "ts", "event_id")
    purchases = stream.where("event_type = 'purchase'").select("user_id", "ts", "value")
    out = pss.merge_asof_stream(
        clicks, purchases, on="ts", by=["user_id"],
        direction="forward", lateness="0 seconds", tolerance="1 day",
    )
    pss.run_to_memory(out, "suite_stream_asof_fwd", output_mode="append")
    return spark.table("suite_stream_asof_fwd")


@query(
    "streaming_merge_asof_nearest",
    oracle="""
    WITH c AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-25'),
         p AS (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         b AS (SELECT c.event_id, p.ts AS bts, p.value AS bv
               FROM c ASOF LEFT JOIN p
                 ON c.user_id = p.user_id AND c.ts >= p.ts),
         f AS (SELECT c.event_id, p.ts AS fts, p.value AS fv
               FROM c ASOF LEFT JOIN p
                 ON c.user_id = p.user_id AND c.ts <= p.ts)
    SELECT c.user_id, c.ts, c.event_id,
           CASE WHEN b_ok AND (NOT f_ok OR (c.ts - bts) <= (fts - c.ts))
                THEN bv
                WHEN f_ok THEN fv END AS value
    FROM c
    JOIN (SELECT event_id, bts, bv,
                 bts IS NOT NULL AND bts >= c2.ts - INTERVAL '1 day' AS b_ok
          FROM b JOIN (SELECT event_id, ts FROM c) c2 USING (event_id)) b2
      USING (event_id)
    JOIN (SELECT event_id, fts, fv,
                 fts IS NOT NULL AND fts <= c3.ts + INTERVAL '1 day' AS f_ok
          FROM f JOIN (SELECT event_id, ts FROM c) c3 USING (event_id)) f2
      USING (event_id)
    """,
)
def streaming_merge_asof_nearest(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Streaming asof direction='nearest': both bounds buffered, the
    smaller gap wins (tie -> backward, pandas' rule), tolerance gates
    each side BEFORE the pick (batch-path parity)."""
    from pandas_spark import streaming as pss

    stream = pss.read_stream_parquet(spark, f"{sf_dir}/events.parquet")
    clicks = stream.where(
        "event_type = 'click' AND ts < TIMESTAMP '2024-01-25'"
    ).select("user_id", "ts", "event_id")
    purchases = stream.where("event_type = 'purchase'").select("user_id", "ts", "value")
    out = pss.merge_asof_stream(
        clicks, purchases, on="ts", by=["user_id"],
        direction="nearest", lateness="0 seconds", tolerance="1 day",
    )
    pss.run_to_memory(out, "suite_stream_asof_nr", output_mode="append")
    return spark.table("suite_stream_asof_nr")


@query(
    "rolling_step",
    oracle="""
    SELECT event_id, m FROM (
        SELECT event_id,
               CASE WHEN count(value) OVER w >= 2
                    THEN avg(value) OVER w END          AS m,
               row_number() OVER (ORDER BY event_id) - 1 AS pos
        FROM events
        WINDOW w AS (ORDER BY event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ) WHERE pos % 5 = 0
    """,
)
def rolling_step(spark: SparkSession, sf_dir: str) -> SparkDF:
    """rolling(step=k): evaluate at every k-th frame position
    (reference window/rolling.py:158) — r9 reference-test sweep."""
    ev = _t(spark, sf_dir, "events").select(["event_id", "value"])
    return (
        ev.sort_values("event_id")
        .rolling(4, min_periods=2, step=5)
        .mean("value", alias="m")
        .select(["event_id", "m"])
        .to_spark()
    )


@query(
    "rolling_forward",
    oracle="""
    SELECT event_id,
           CASE WHEN count(value) OVER w >= 2
                THEN sum(value) OVER w END AS s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
    """,
)
def rolling_forward(spark: SparkSession, sf_dir: str) -> SparkDF:
    """forward-looking fixed window — pandas
    FixedForwardWindowIndexer(window_size=n) (reference
    indexers/objects.py:205) as rolling(forward=True), per user key
    (keyed → fully parallel; the unkeyed global form is the same
    positional class as frame cumsum and stays test-only)."""
    ev = _t(spark, sf_dir, "events").select(["event_id", "user_id", "value"])
    return (
        ev.sort_values("event_id")
        .rolling(4, min_periods=2, forward=True, by=["user_id"])
        .sum("value", alias="s")
        .select(["event_id", "s"])
        .to_spark()
    )


@query(
    "cut_codes",
    oracle="""
    SELECT CASE WHEN l_quantity > 0  AND l_quantity <= 15 THEN 0
                WHEN l_quantity > 15 AND l_quantity <= 35 THEN 1
                WHEN l_quantity > 35 AND l_quantity <= 50 THEN 2 END AS qty_code,
           count(*)::BIGINT AS n
    FROM lineitem GROUP BY 1
    """,
)
def cut_codes(spark: SparkSession, sf_dir: str) -> SparkDF:
    """pd.cut(labels=False) → integer bin codes (reference tile.py;
    r10 sweep — distinct from labels=None's interval strings)."""
    li = _t(spark, sf_dir, "lineitem").select(["l_quantity"])
    binned = ps.cut(li, "l_quantity", bins=[0, 15, 35, 50], labels=False,
                    alias="qty_code")
    return (
        binned.groupby("qty_code").agg(n=("qty_code", "size")).to_spark()
    )


@query(
    "get_dummies_drop_first_na",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (l_returnflag = 'N')::INT AS "l_returnflag_N",
           (l_returnflag = 'R')::INT AS "l_returnflag_R",
           (l_returnflag IS NULL)::INT AS "l_returnflag_nan"
    FROM lineitem
    """,
)
def get_dummies_drop_first_na(spark: SparkSession, sf_dir: str) -> SparkDF:
    """get_dummies(drop_first=True, dummy_na=True) — the k-1 encoding
    plus the NaN indicator (reference encoding.py; r10 sweep). NULL
    rows one-hot to 0 on every category column, pandas parity."""
    lineitem = _t(spark, sf_dir, "lineitem").select(
        ["l_orderkey", "l_linenumber", "l_returnflag"]
    )
    return ps.get_dummies(
        lineitem, ["l_returnflag"],
        categories={"l_returnflag": ["A", "N", "R"]},
        drop_first=True, dummy_na=True,
    ).to_spark()


@query(
    "crosstab_margins",
    oracle="""
    SELECT o_orderpriority,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS F,
           sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS O,
           sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS P,
           count(*)::BIGINT AS "All"
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'All',
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT,
           count(*)::BIGINT
    FROM orders
    """,
)
def crosstab_margins(spark: SparkSession, sf_dir: str) -> SparkDF:
    """crosstab(margins=True) — row/column totals (reference
    pivot.py:982 margins; r10 sweep)."""
    orders = _t(spark, sf_dir, "orders")
    return ps.crosstab(
        orders, "o_orderpriority", "o_orderstatus", margins=True
    ).to_spark()


@query(
    "resample_closed_right",
    oracle="""
    SELECT date_trunc('hour', ts - INTERVAL '1 microsecond') + INTERVAL '1 hour' AS ts,
           {ES} AS v_sum,
           count(value)::BIGINT AS v_count
    FROM events GROUP BY 1
    """.replace("{ES}", ESUM("value")),
)
def resample_closed_right(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample(closed='right', label='right') — buckets (start, end]
    labeled by end (reference core/resample.py:2404; r10 sweep). A
    boundary stamp belongs to the EARLIER bucket."""
    events = _t(spark, sf_dir, "events")
    return (
        events.resample("1h", on="ts", closed="right", label="right")
        .agg({"value": ["sum", "count"]})
        .to_spark()
        .selectExpr("ts", "value_sum AS v_sum", "value_count AS v_count")
    )


# ---------------------------------------------------------------------------
# §2.10 calendar-anchored resample (r11: ME/MS/QE/YE/W — reference
# core/resample.py:2402 TimeGrouper, offsets.pyx Week:5192/MonthEnd:4680)
# ---------------------------------------------------------------------------

@query(
    "resample_month_end",
    oracle="""
    SELECT CAST(last_day(o_orderdate) AS TIMESTAMP) AS ts,
           {ES} AS price_sum,
           count(o_totalprice)::BIGINT AS n
    FROM orders GROUP BY 1
    """.replace("{ES}", ESUM("o_totalprice")),
)
def resample_month_end(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('ME') — calendar-month buckets labeled by month end,
    pandas right/right defaults with day-end-adjusted edges (reference
    core/resample.py:2404, _adjust_bin_edges). JVM-side: one
    last_day/trunc expression per row, ONE shuffle for the agg —
    identical plan shape at 100 TB."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.resample("ME", on="o_orderdate")
        .agg({"o_totalprice": ["sum", "count"]})
        .to_spark()
        .selectExpr(
            "o_orderdate AS ts",
            "o_totalprice_sum AS price_sum",
            "o_totalprice_count AS n",
        )
    )


@query(
    "resample_month_start_label_left",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS ts,
           {ES} AS price_sum
    FROM orders GROUP BY 1
    """.replace("{ES}", ESUM("o_totalprice")),
)
def resample_month_start_label_left(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('MS') — month-start buckets, left/left pandas defaults
    for start-anchored freqs (core/resample.py:2404)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.resample("MS", on="o_orderdate")
        .agg({"o_totalprice": "sum"})
        .to_spark()
        .selectExpr("o_orderdate AS ts", "o_totalprice AS price_sum")
    )


@query(
    "resample_month_end_label_left",
    oracle="""
    SELECT CAST(last_day(CAST(o_orderdate - INTERVAL 1 MONTH AS DATE)) AS TIMESTAMP) AS ts,
           count(*)::BIGINT AS n
    FROM orders GROUP BY 1
    """,
)
def resample_month_end_label_left(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('ME', label='left') — non-default label side: the bin's
    LEFT edge (previous month end) labels each calendar-month bucket."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.resample("ME", on="o_orderdate", label="left")
        .agg({"o_orderkey": "count"})
        .to_spark()
        .selectExpr("o_orderdate AS ts", "o_orderkey AS n")
    )


@query(
    "resample_week_sunday",
    oracle="""
    SELECT CAST(CAST(o_orderdate AS DATE)
                + CAST((7 - isodow(o_orderdate)) % 7 AS INTEGER) AS TIMESTAMP) AS ts,
           {ES} AS price_sum,
           count(*)::BIGINT AS n
    FROM orders GROUP BY 1
    """.replace("{ES}", ESUM("o_totalprice")),
)
def resample_week_sunday(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('W') == W-SUN (offsets.pyx:5192) — weeks END on Sunday,
    right/right defaults, Sunday itself closing its own week (day-end
    adjusted edges). Replaces the pre-r11 silent epoch-anchored 604800 s
    bucketing (1970-01-01 is a THURSDAY — wrong boundaries)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.resample("W", on="o_orderdate")
        .agg({"o_totalprice": ["sum", "count"]})
        .to_spark()
        .selectExpr(
            "o_orderdate AS ts",
            "o_totalprice_sum AS price_sum",
            "o_totalprice_count AS n",
        )
    )


@query(
    "resample_quarter_year_end",
    oracle="""
    WITH q AS (
      SELECT CAST(last_day(CAST(date_trunc('quarter', o_orderdate)
                                + INTERVAL 2 MONTH AS DATE)) AS TIMESTAMP) AS ts,
             count(*)::BIGINT AS n
      FROM orders GROUP BY 1
    ), y AS (
      SELECT CAST(last_day(CAST(date_trunc('year', o_orderdate)
                                + INTERVAL 11 MONTH AS DATE)) AS TIMESTAMP) AS ts,
             count(*)::BIGINT AS n
      FROM orders GROUP BY 1
    )
    SELECT 'QE' AS freq, ts, n FROM q
    UNION ALL
    SELECT 'YE' AS freq, ts, n FROM y
    """,
)
def resample_quarter_year_end(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('QE') / resample('YE') — quarter/year-end anchored
    buckets (QE-DEC / YE-DEC defaults), unioned under a freq tag."""
    orders = _t(spark, sf_dir, "orders")

    def one(freq: str) -> SparkDF:
        return (
            orders.resample(freq, on="o_orderdate")
            .agg({"o_orderkey": "count"})
            .to_spark()
            .selectExpr(f"'{freq}' AS freq", "o_orderdate AS ts", "o_orderkey AS n")
        )

    return one("QE").unionAll(one("YE"))


@query(
    "crosstab_norm_margins",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::DOUBLE AS fc,
             sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::DOUBLE AS oc,
             sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::DOUBLE AS pc,
             count(*)::DOUBLE AS alc
      FROM orders GROUP BY 1
    ), g AS (SELECT sum(alc) AS t FROM c)
    SELECT o_orderpriority,
           fc / t AS "F", oc / t AS "O", pc / t AS "P", alc / t AS "All"
    FROM c, g
    UNION ALL
    SELECT 'All', sum(fc) / max(t), sum(oc) / max(t),
           sum(pc) / max(t), sum(alc) / max(t)
    FROM c, g
    """,
)
def crosstab_norm_margins(spark: SparkSession, sf_dir: str) -> SparkDF:
    """crosstab(normalize='all', margins=True) — r11: the full pandas
    normalize×margins matrix (reference pivot.py:982); both margins
    divided by the grand total, corner = 1.0."""
    orders = _t(spark, sf_dir, "orders")
    return ps.crosstab(
        orders, "o_orderpriority", "o_orderstatus",
        normalize="all", margins=True,
    ).to_spark()


@query(
    "resample_7d_start_day",
    oracle="""
    WITH m AS (SELECT date_trunc('day', min(o_orderdate)) AS m0 FROM orders)
    SELECT m0 + to_days(7 * CAST((epoch_us(o_orderdate) - epoch_us(m0))
                                 // 604800000000 AS INTEGER)) AS ts,
           {ES} AS price_sum,
           count(*)::BIGINT AS n
    FROM orders, m GROUP BY 1
    """.replace("{ES}", ESUM("o_totalprice")),
)
def resample_7d_start_day(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('7D') under pandas' DEFAULT origin='start_day'
    (reference core/resample.py:2441; r11 sweep): bins anchor to the
    data's first midnight, NOT epoch — 7 days does not divide into the
    epoch grid, so the pre-r11 epoch default produced shifted bins.
    One bounded min(ts) scalar job, then the same single-shuffle agg."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.resample("7D", on="o_orderdate")
        .agg({"o_totalprice": ["sum", "count"]})
        .to_spark()
        .selectExpr(
            "o_orderdate AS ts",
            "o_totalprice_sum AS price_sum",
            "o_totalprice_count AS n",
        )
    )


@query(
    "resample_origin_end",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT make_timestamp(epoch_us(m)
             - ((epoch_us(m) - epoch_us(ts)) // 21600000000) * 21600000000) AS ts,
           {ES} AS v_sum,
           count(value)::BIGINT AS n
    FROM events, mx GROUP BY 1
    """.replace("{ES}", ESUM("value")),
)
def resample_origin_end(spark: SparkSession, sf_dir: str) -> SparkDF:
    """resample('6h', origin='end') — bins anchored so the LAST bin
    ends exactly at max(ts) (microsecond precision), closed/label
    defaulting to right/right (reference core/resample.py:2495; r11
    sweep). One bounded max(ts) scalar job."""
    events = _t(spark, sf_dir, "events")
    return (
        events.resample("6h", on="ts", origin="end")
        .agg({"value": ["sum", "count"]})
        .to_spark()
        .selectExpr("ts", "value_sum AS v_sum", "value_count AS n")
    )


@query(
    "resample_upsample_ffill_limit",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hts, count(value)::BIGINT AS nn
      FROM events GROUP BY 1
    ), b AS (SELECT min(hts) AS lo, max(hts) AS hi FROM h),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS ts FROM b
    ), j AS (
      SELECT s.ts, h.hts, h.nn
      FROM spine s ASOF LEFT JOIN h ON h.hts <= s.ts
    )
    SELECT ts,
           CASE WHEN (epoch_us(ts) // 900000000)
                     - (epoch_us(hts) // 900000000) <= 2
                THEN nn END AS n
    FROM j
    """,
)
def resample_upsample_ffill_limit(spark: SparkSession, sf_dir: str) -> SparkDF:
    """Resampler.ffill(limit=) — r11: upsample hourly counts onto a
    15-minute grid; the fill value is the asof-backward original and
    each original fills at most `limit` consecutive grid slots
    (pandas reindex-fill semantics, reference core/resample.py ffill).
    Plan: bounded spine-bounds agg + ONE asof join + a map-side
    grid-index mask — no windows, no per-run state; same shape at
    any scale."""
    events = _t(spark, sf_dir, "events")
    hourly = events.resample("1h", on="ts").agg({"value": "count"})
    return (
        hourly.resample("15min", on="ts")
        .ffill(limit=2)
        .to_spark()
        .selectExpr("ts", "value AS n")
    )

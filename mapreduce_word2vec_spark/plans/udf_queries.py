"""UDF-surface queries (SURVEY §2.B "UDF surface"): the three pandas
UDF shapes beyond the scalar archetype (A10 / functions.tokens).

All kernels here are deterministic arithmetic, so even the Python
paths are oracle-comparable (ratios/z-scores are numerically stable
enough for 6-dp rounding; raw big sums are avoided)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_word2vec_spark.functions.vectors import norm_duckdb
from mapreduce_word2vec_spark.plans.catalog import register
from mapreduce_word2vec_spark.sources.readers import read_testdata


@F.pandas_udf(T.DoubleType())
def _weighted_avg(price: pd.Series, qty: pd.Series) -> float:  # GROUPED_AGG
    return float((price * qty).sum() / qty.sum())


@register(
    "udf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS qty_weighted_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF: quantity-weighted mean price per
    return flag (Arrow transfers one group-column batch per group)."""
    li = read_testdata(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(_weighted_avg("l_extendedprice", "l_quantity"), 6).alias(
            "qty_weighted_price"
        )
    )


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:  # GROUPED_MAP
    mu = pdf["c_acctbal"].mean()
    sd = pdf["c_acctbal"].std(ddof=1)  # ddof=1 == SQL stddev_samp
    # Degenerate segments must yield NULL like the oracle: a
    # single-customer group has sd = NaN (stddev_samp over one row is
    # NULL in SQL) and an all-equal group has sd = 0 (SQL division by
    # zero is NULL) — pandas would emit NaN/inf, which the driver
    # canonicalizer hashes differently from NULL.
    if not pd.notna(sd) or sd == 0:
        pdf["bal_z"] = None
    else:
        pdf["bal_z"] = ((pdf["c_acctbal"] - mu) / sd).round(6)
    return pdf[["c_custkey", "c_mktsegment", "bal_z"]]


@register(
    "udf_grouped_map",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 6) AS bal_z
    FROM customer
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-segment z-score of account
    balance (each group arrives as one pandas DataFrame)."""
    c = read_testdata(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").applyInPandas(
        _zscore, schema="c_custkey long, c_mktsegment string, bal_z double"
    )


@register(
    "udf_scalar_pandas",
    oracle="""
    SELECT p_partkey,
           round(p_retailprice * (1.0 + 0.01 * (p_size % 10)), 6) AS adjusted_price
    FROM part
    """,
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (beyond the token-id archetype): vectorized
    price adjustment — one Arrow batch per partition chunk."""

    @F.pandas_udf(T.DoubleType())
    def adjust(price: pd.Series, size: pd.Series) -> pd.Series:
        return (price * (1.0 + 0.01 * (size % 10))).round(6)

    p = read_testdata(spark, sf_dir, "part")
    return p.select(
        "p_partkey", adjust("p_retailprice", "p_size").alias("adjusted_price")
    )


@register(
    "udf_map_in_arrow",
    oracle=f"""
    SELECT vec_id, round({norm_duckdb("embedding")}, 6) AS l2_norm
    FROM embeddings
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the fourth Python-crossing mode (after scalar
    pandas, grouped agg/map, and mapInPandas): the kernel receives raw
    ``pyarrow.RecordBatch``es with NO pandas conversion, the right
    call when the payload is already columnar (vectors, tensors,
    binary) and pandas materialization would double memory. Kernel
    computes per-row L2 norms with numpy over the Arrow buffers;
    per-batch cost is one zero-copy view + one vectorized reduction."""
    import numpy as np
    import pyarrow as pa

    from mapreduce_word2vec_spark.sources.readers import read_testdata

    emb = read_testdata(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        for batch in batches:
            if len(batch) == 0:
                # empty RecordBatches are legal (some sources /
                # partitionings deliver them) and would make the dim
                # division below divide by zero
                continue
            vec_id = batch.column("vec_id")
            embs = batch.column("embedding")
            # flatten() honors list offsets (a sliced batch's raw
            # values buffer would misalign); reshape via the fixed
            # dim — zero row-wise Python looping.
            flat = np.asarray(embs.flatten(), dtype=np.float64)
            dim = len(flat) // len(batch)
            l2 = np.sqrt((flat.reshape(len(batch), dim) ** 2).sum(axis=1)).round(6)
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array(l2, type=pa.float64())], ["vec_id", "l2_norm"]
            )

    return emb.mapInArrow(norms, "vec_id bigint, l2_norm double")


def _order_recon(key, orders_pdf: pd.DataFrame, lines_pdf: pd.DataFrame) -> pd.DataFrame:
    # COGROUPED_MAP kernel: both sides of one order key arrive as
    # pandas frames; reconcile the order header against its lines.
    okey = int(key[0])
    header_price = (
        float(orders_pdf["o_totalprice"].iloc[0]) if len(orders_pdf) else None
    )
    gross = float(
        (lines_pdf["l_extendedprice"] * (1.0 - lines_pdf["l_discount"])
         * (1.0 + lines_pdf["l_tax"])).sum()
    ) if len(lines_pdf) else 0.0
    return pd.DataFrame(
        {
            "o_orderkey": [okey],
            "n_lines": [int(len(lines_pdf))],
            "header_price": [round(header_price, 6) if header_price is not None else None],
            "gross_charges": [round(gross, 6)],
        }
    )


@register(
    "udf_cogrouped_map",
    oracle="""
    SELECT o.o_orderkey,
           CAST(count(l.l_orderkey) AS BIGINT) AS n_lines,
           round(any_value(o.o_totalprice), 6) AS header_price,
           round(coalesce(sum(l.l_extendedprice * (1.0 - l.l_discount)
                              * (1.0 + l.l_tax)), 0.0), 6) AS gross_charges
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey < 2000
    GROUP BY o.o_orderkey
    """,
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map applyInPandas — the last Python-crossing mode
    (after scalar / grouped-agg / grouped-map / mapInPandas /
    mapInArrow): both relations' rows for one key arrive together as
    two pandas frames, the shape for per-key reconciliation and
    custom merge logic that SQL joins can't express directly. The
    kernel here (order header vs summed line charges) IS
    SQL-expressible on purpose, so the whole crossing is
    oracle-checked. Scale shape: one exchange per side on the
    cogroup key, kernel state bounded by one key's rows.

    Float caveat: pandas sums a group's charges sequentially while
    SQL's sum order is partition-dependent — gross charges per order
    are <~60 lines, so the 6-dp round absorbs the summation-order
    ulps at any scale of ORDERS (group size, not table size, bounds
    the error)."""
    o = read_testdata(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 2000
    ).select("o_orderkey", "o_totalprice")
    li = read_testdata(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") < 2000
    ).select("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    return (
        o.groupBy("o_orderkey")
        .cogroup(li.groupBy("l_orderkey"))
        .applyInPandas(
            _order_recon,
            schema=(
                "o_orderkey long, n_lines bigint, "
                "header_price double, gross_charges double"
            ),
        )
    )


@register(
    "ps_pandas_on_spark",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(o_totalprice), 6) AS avg_price,
           round(max(o_totalprice), 6) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def ps_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas API on Spark (``pyspark.pandas``): the drop-in pandas
    surface compiled onto the same Catalyst plans — read_parquet →
    groupby().agg() → to_spark(), no data ever leaving the JVM. The
    index type is pinned to 'distributed' (the default
    distributed-sequence index forces an extra job + a global
    ordering barrier to mint monotonically increasing ids — a silent
    scale trap for a pandas user; 'distributed' is order-free).
    Value-checked against the declarative twin, proving the pandas
    facade reaches the identical result."""
    import pyspark.pandas as ps

    prev = ps.get_option("compute.default_index_type")
    ps.set_option("compute.default_index_type", "distributed")
    try:
        psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
        g = psdf.groupby("o_orderpriority").agg(
            n_orders=("o_orderkey", "count"),
            avg_price=("o_totalprice", "mean"),
            max_price=("o_totalprice", "max"),
        )
        sdf = g.reset_index().to_spark()
    finally:
        ps.set_option("compute.default_index_type", prev)
    return sdf.select(
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round("avg_price", 6).alias("avg_price"),
        F.round("max_price", 6).alias("max_price"),
    )


@register(
    "udf_arrow_scalar",
    oracle="""
    SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_rank,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 6) AS total
    FROM orders GROUP BY prio_rank
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized row-wise Python UDF (``useArrow=True``, the
    Spark 3.5+ middle path): per-row Python logic with columnar Arrow
    transport instead of pickle — the migration story for legacy
    row-at-a-time UDFs that can't be vectorized wholesale. Completes
    the Python-crossing matrix alongside pandas scalar / grouped /
    cogrouped / mapInArrow. The kernel parses the priority's leading
    digit; the oracle does it declaratively, so transport+execution
    must be value-transparent."""
    from pyspark.sql.functions import udf

    from mapreduce_word2vec_spark.sources.readers import read_testdata

    prio_rank = udf(lambda s: int(s[0]), "int", useArrow=True)
    o = read_testdata(spark, sf_dir, "orders")
    return (
        o.select(prio_rank("o_orderpriority").alias("prio_rank"), "o_totalprice")
        .groupBy("prio_rank")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("total"),
        )
    )


@register(
    "udf_iterator_pandas",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount) * 1.1), 6) AS adj_revenue
    FROM lineitem
    WHERE l_orderkey % 501 = 0
    GROUP BY l_orderkey
    """,
)
def udf_iterator_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (``Iterator[pd.Series] ->
    Iterator[pd.Series]``): the third scalar-UDF calling convention
    next to per-batch scalar and mapInArrow. The iterator form exists
    for EXPENSIVE ONE-TIME SETUP — the worker runs the generator body
    once per task (load a model, open a connection, here: build the
    rate constant) and then streams every Arrow batch through it,
    instead of paying setup per batch. The kernel applies a
    multiplicative adjustment that SQL reproduces exactly, so the
    crossing itself is hash-checked; the aggregation after it stays
    JVM-side."""
    @F.pandas_udf(T.DoubleType())
    def adjust(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        rate = 1.1  # one-time setup, amortized across all batches
        for s in batches:
            yield s * rate

    li = read_testdata(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 501 == 0
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.select("l_orderkey", adjust(net).alias("adj"))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("adj"), 6).alias("adj_revenue"))
    )


# --- grouped-agg pandas UDF as a WINDOW function ---------------------------
# The fourth way a vectorized UDAF crosses into SQL: OVER an unbounded
# partition window (supported for pandas grouped-agg UDFs since Spark
# 2.4). Every row carries its segment's UDF aggregate without a
# join-back — one exchange on the partition key, the Arrow batch per
# window partition. The kernel reuses _weighted_avg, so the groupBy
# twin (udf_grouped_agg) and the window form cannot drift.


@register(
    "udf_window_grouped_agg",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(c_acctbal - sum(c_acctbal * 1.0) OVER (PARTITION BY c_mktsegment)
                 / sum(1.0) OVER (PARTITION BY c_mktsegment), 6) AS bal_vs_seg_avg
    FROM customer
    """,
)
def udf_window_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas grouped-agg UDF evaluated OVER a window: each customer's
    balance relative to its segment's (UDF-computed) mean."""
    from pyspark.sql import Window

    cust = read_testdata(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    seg_avg = _weighted_avg(F.col("c_acctbal"), F.lit(1.0)).over(w)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") - seg_avg, 6).alias("bal_vs_seg_avg"),
    )

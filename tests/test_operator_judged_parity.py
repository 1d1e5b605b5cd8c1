"""Library-operator vs judged-inline-SQL parity (r12 verdict item 8).

The r12 optimization round restated the judged stats-tier queries as
single SQL strings; the library operators in ``operators/stats.py``
remain the general-frame API but are no longer ON the judged path, so
nothing structural stopped the two from drifting apart.  These tests
close that gap: each stats operator, applied to the same base table
with the judged query's parameters, must produce the IDENTICAL
multiset (same normalization as the driver comparison) as the judged
query function itself.

The comparison runs both sides through ``oracle_harness.normalize_rows``
(column-name sort + value normalization + row sort) — exactly the
order-insensitive equality the driver checks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import normalize_rows
from v6spark.operators import stats
from v6spark.plans import REGISTRY
from v6spark.sources.tables import load_table


def _norm(df):
    return normalize_rows(df.columns, [tuple(r) for r in df.collect()])


def _judged(spark, sf_dir, name):
    return REGISTRY[name].spark_fn(spark, sf_dir)


def _assert_parity(op_df, judged_df, name):
    left, right = _norm(op_df), _norm(judged_df)
    assert sorted(op_df.columns) == sorted(judged_df.columns), name
    assert left == right, (
        f"{name}: operator result diverged from judged SQL twin "
        f"({len(left)} vs {len(right)} rows; first diff: "
        f"{next(((a, b) for a, b in zip(left, right) if a != b), 'row count')})"
    )


def test_category_shares_parity(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    op = stats.category_shares(cust, "c_nationkey", "c_mktsegment", "share")
    _assert_parity(op, _judged(spark, sf_dir, "q_category_shares"),
                   "q_category_shares")


def test_major_category_freq_parity(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    op = stats.major_category_freq(
        orders, "o_orderpriority", "o_orderstatus", "maf"
    )
    _assert_parity(op, _judged(spark, sf_dir, "q_maf_gt"), "q_maf_gt")


def test_minor_category_count_parity(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    op = stats.minor_category_count(part, "p_brand", "p_type", "mac").filter(
        "mac >= 1"
    )
    _assert_parity(op, _judged(spark, sf_dir, "q_mac"), "q_mac")


def test_expected_het_parity(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    op = stats.expected_het_unbiased(
        cust, "c_nationkey", "c_mktsegment", "exp_het"
    )
    _assert_parity(op, _judged(spark, sf_dir, "q_exp_het"), "q_exp_het")


def test_rate_of_obs_het_parity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    op = stats.rate_of(
        ev, ["user_id"], F.col("event_type") == "click", "het_rate"
    )
    _assert_parity(op, _judged(spark, sf_dir, "q_obs_het"), "q_obs_het")


def test_rate_of_obs_het_filter_parity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    op = stats.rate_of(
        ev, ["user_id"], F.col("event_type") == "click", "het_rate"
    ).filter("het_rate >= 0.15 AND het_rate <= 0.25")
    _assert_parity(
        op, _judged(spark, sf_dir, "q_obs_het_filter"), "q_obs_het_filter"
    )


def test_rate_of_callrate_parity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    op = stats.rate_of(
        li, ["l_partkey"], F.col("l_discount") >= 0.05, "call_rate"
    ).filter("call_rate >= 0.5")
    _assert_parity(
        op, _judged(spark, sf_dir, "q_callrate_filter"), "q_callrate_filter"
    )


def test_rate_of_missing_rate_parity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    op = stats.rate_of(ev, ["event_type"], F.col("value") < 0.1, "miss_rate")
    _assert_parity(
        op, _judged(spark, sf_dir, "q_missing_rate"), "q_missing_rate"
    )


def test_histogram_parity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    op = stats.histogram(li, "l_extendedprice", 0.0, 100000.0, 10)
    _assert_parity(op, _judged(spark, sf_dir, "q_histogram"), "q_histogram")


def test_group_mean_parity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    op = stats.group_mean(
        ev, ["user_id"], "value", n_alias="n_events", avg_alias="avg_value"
    )
    _assert_parity(
        op, _judged(spark, sf_dir, "q_per_entity_rate"), "q_per_entity_rate"
    )


def test_measure_stats_parity(spark, sf_dir):
    """The operator computes the moment columns (avg/min/max/std); the
    judged query adds percentiles and correlation on top.  l_quantity
    is integral-valued, so the operator's plain double sums and the
    judged floor-split exact sums are BOTH exact — the moment columns
    must agree bitwise after round(6)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = stats.measure_stats(li, ["l_suppkey"], "l_quantity")
    judged = _judged(spark, sf_dir, "q_measure_stats").select(
        "l_suppkey", "avg_quantity", "min_quantity", "max_quantity",
        "std_quantity",
    )
    _assert_parity(op, judged, "q_measure_stats(moments)")


@pytest.mark.parametrize(
    "name",
    ["q_category_shares", "q_maf_gt", "q_mac", "q_exp_het"],
)
def test_parity_inputs_nonempty(spark, sf_dir, name):
    """A 0-row parity match proves nothing — pin non-trivial inputs."""
    assert _judged(spark, sf_dir, name).count() > 0

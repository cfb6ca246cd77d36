"""Property-based cross-engine tests (hypothesis): the exactness
helpers must agree with DuckDB on arbitrary inputs, not just the
values the example tests happen to use."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from geoscale_healthflow_etl_django_analytics_spark.functions.exact import fround

# batch the property values through ONE Spark job per test for speed
N_BATCH = 200


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        # FULL real line (ADVICE r5 #3): negatives pin the
        # half-away-from-zero ties and the signed-zero behavior
        st.floats(
            min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
        ),
        min_size=N_BATCH,
        max_size=N_BATCH,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_fround_matches_duckdb_round(spark, values, decimals):
    sdf = spark.createDataFrame([(v,) for v in values], "x double")
    got = [
        r.y for r in sdf.select(fround(F.col("x"), decimals).alias("y")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT round(?::DOUBLE, {decimals})", [v]).fetchone()[0]
        for v in values
    ]
    con.close()
    # repr-compare so 0.0 vs -0.0 disagreements fail (== treats them
    # equal; the driver's value hash does not)
    assert [repr(g) for g in got] == [repr(w) for w in want]


def test_fround_negative_ties_and_signed_zero(spark):
    """Deterministic pins for the cases hypothesis may not hit: exact
    negative .5 ties (half-away, not half-up) and -0.0 propagation."""
    cases = [(-2.5, 0), (-0.125, 2), (-0.001, 2), (-4.475, 2), (2.5, 0)]
    con = duckdb.connect()
    for v, d in cases:
        sdf = spark.createDataFrame([(v,)], "x double")
        got = sdf.select(fround(F.col("x"), d).alias("y")).collect()[0].y
        want = con.execute(f"SELECT round(?::DOUBLE, {d})", [v]).fetchone()[0]
        assert repr(got) == repr(want), (v, d, got, want)
    con.close()


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1e6, allow_nan=False, allow_infinity=False),
        min_size=N_BATCH,
        max_size=N_BATCH,
    )
)
def test_exact_sum_partitioning_independent(spark, values):
    """The decimal-exact sum must not depend on partitioning — the
    reproducibility-at-scale property plain double sums lack."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.exact import exact_sum

    df1 = spark.createDataFrame([(v,) for v in values], "x double").coalesce(1)
    df8 = spark.createDataFrame([(v,) for v in values], "x double").repartition(8)
    s1 = df1.agg(exact_sum(F.col("x"), 4).alias("s")).collect()[0].s
    s8 = df8.agg(exact_sum(F.col("x"), 4).alias("s")).collect()[0].s
    assert s1 == s8


@settings(max_examples=5, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=130), min_size=50, max_size=50))
def test_age_buckets_total(spark, ages):
    """Age bucketing is total: every input lands in exactly one bucket."""
    from geoscale_healthflow_etl_django_analytics_spark.functions.cleaning import (
        categorize_age,
    )

    df = spark.createDataFrame([(a,) for a in ages], "a int")
    out = [r.g for r in df.select(categorize_age(F.col("a")).alias("g")).collect()]
    valid = {"Under 5", "5-14", "15-24", "25-44", "45-64", "65+"}
    assert all(g in valid for g in out)


def _union_find_labels(edges) -> dict:
    """Reference CC: node -> component-min by plain union-find."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for a, b in edges for n in (a, b)}


@pytest.mark.parametrize("local_threshold", [0, 200_000])
@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=1,
        max_size=80,
    )
)
def test_connected_components_matches_union_find(spark, local_threshold, edges):
    """The large-star/small-star contraction must agree with a plain
    union-find on arbitrary graphs (self-loops, duplicate edges,
    multiple components, any shape hypothesis invents). Parametrized
    over both execution levels: threshold 0 forces the distributed
    contraction loop; the default routes these driver-sized graphs
    through the local union-find finish."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.component
        for r in dd.connected_components(
            df, local_threshold=local_threshold
        ).collect()
    }
    assert got == _union_find_labels(edges)


@pytest.mark.parametrize("input_cheap", [False, True])
@pytest.mark.parametrize("local_threshold", [0, 200_000])
@pytest.mark.parametrize("id_type", ["int", "bigint"])
@pytest.mark.parametrize(
    "edges",
    [[], [(3, 3), (5, 5)], [(4, 2), (2, 9), (7, 7), (11, 10)]],
    ids=["empty", "self_loops", "mixed"],
)
def test_connected_components_edge_cases(
    spark, input_cheap, local_threshold, id_type, edges
):
    """Shapes the property test does not generate — an empty edge set,
    self-loops only, int32 ids — on every path that builds a label
    table: both levels and both ``input_cheap`` values.  The output is
    (doc_id, component) typed as the input ids, with union-find
    labels."""
    from geoscale_healthflow_etl_django_analytics_spark.operators import dedup as dd

    df = spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}")
    out = dd.connected_components(
        df, local_threshold=local_threshold, input_cheap=input_cheap
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("doc_id", id_type),
        ("component", id_type),
    ]
    got = {r.doc_id: r.component for r in out.collect()}
    assert got == _union_find_labels(edges)

"""Hand-built edge-case tests for the round-2 operators (clustering,
ranking, rolling analytics, skyline). Oracle equivalence is covered by
test_oracle_parity; these pin the semantics on tiny known inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators.graph import (
    component_sizes,
    connected_components,
)
from defimap_data_pipelines_spark.operators.ranking import bm25_scores
from defimap_data_pipelines_spark.operators.rolling import (
    pareto_frontier,
    rolling_zscore_anomalies,
    weighted_moving_avg,
)


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3 (transitive), island 4-5, self-contained 7-8-9 triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (7, 9)],
        ["doc_a", "doc_b"],
    )
    out = {
        r.node: r.component
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 7: 7, 8: 7, 9: 7}
    sizes = {
        r.node: r.cluster_size
        for r in component_sizes(
            connected_components(edges, "doc_a", "doc_b")
        ).collect()
    }
    assert sizes == {1: 3, 2: 3, 3: 3, 4: 2, 5: 2, 7: 3, 8: 3, 9: 3}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path needs ~log-diameter rounds of min propagation;
    # regression for the convergence loop + lineage checkpointing
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], ["doc_a", "doc_b"]
    )
    out = connected_components(edges, "doc_a", "doc_b")
    assert out.select("component").distinct().count() == 1
    assert out.agg(F.min("component")).first()[0] == 100


def test_pareto_frontier_dominance_and_ties(spark):
    pts = spark.createDataFrame(
        [
            (1.0, 10),  # frontier (cheapest)
            (1.0, 10),  # duplicate -> deduped, still frontier once
            (2.0, 12),  # frontier (pays more, gets more)
            (2.0, 11),  # dominated by (2.0, 12) at equal price
            (3.0, 12),  # dominated by (2.0, 12) at equal size
            (0.5, 9),   # frontier (new cheapest)
            (4.0, 1),   # dominated
        ],
        ["price", "size"],
    )
    out = sorted(
        (r.price, r.size)
        for r in pareto_frontier(pts, "price", "size").collect()
    )
    assert out == [(0.5, 9), (1.0, 10), (2.0, 12)]


def test_weighted_moving_avg_closed_form(spark):
    rows = [(1, i, i, float(v)) for i, v in enumerate([10.0, 20.0, 30.0])]
    e = spark.createDataFrame(rows, ["user_id", "ts_us", "event_id", "value"])
    out = {
        r.ts_us: r.wma
        for r in weighted_moving_avg(e, window_rows=20, decay=0.8).collect()
    }
    # row 0: single value
    assert out[0] == pytest.approx(10.0, abs=1e-6)
    # row 2: (30 + 0.8*20 + 0.64*10) / (1 + 0.8 + 0.64)
    expect = (30 + 0.8 * 20 + 0.64 * 10) / (1 + 0.8 + 0.64)
    assert out[2] == pytest.approx(expect, abs=1e-5)


def test_rolling_zscore_flags_spike(spark):
    # 29 calm values then one spike; window=30, min_n=10
    rows = [(1, i, i, 5.0 + (i % 3) * 0.1) for i in range(29)]
    rows.append((1, 29, 29, 500.0))
    e = spark.createDataFrame(rows, ["user_id", "ts_us", "event_id", "value"])
    out = rolling_zscore_anomalies(
        e, window_rows=30, z_threshold=2.5, min_n=10
    ).collect()
    assert [r.ts_us for r in out] == [29]
    assert out[0].zscore > 2.5


def test_rolling_zscore_zero_variance_emits_nothing(spark):
    e = spark.createDataFrame(
        [(1, i, i, 7.0) for i in range(40)],
        ["user_id", "ts_us", "event_id", "value"],
    )
    assert rolling_zscore_anomalies(e, min_n=5).count() == 0


def test_bm25_prefers_term_dense_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "vector vector vector stream"),
            (2, "vector padding words here and more padding tokens"),
            (3, "nothing relevant at all in this one"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_scores(docs, ["vector", "stream"], top=5).collect()
    ids = [r.doc_id for r in out]
    assert ids[0] == 1  # densest match first
    assert 3 not in ids  # no matching terms -> no score


def test_char_entropy_known_values(spark):
    from defimap_data_pipelines_spark.operators.textops import (
        char_entropy_table,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.entropy for r in char_entropy_table(docs).collect()
    }
    assert out[1] == pytest.approx(0.0, abs=1e-9)  # one symbol
    assert out[2] == pytest.approx(math.log(2), abs=1e-6)  # two equiprobable


# ---------------------------------------------------------------------------
# Property tests (hypothesis): invariants that hold for ANY input
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(edges=edge_lists)
def test_cc_property_edge_endpoints_share_component(spark, edges):
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    labels = {
        r.node: r.component
        for r in connected_components(df, "doc_a", "doc_b").collect()
    }
    # every edge's endpoints agree, and each component is named after
    # its minimum member
    for a, b in edges:
        assert labels[a] == labels[b]
    comps: dict[int, list[int]] = {}
    for node, c in labels.items():
        comps.setdefault(c, []).append(node)
    for c, members in comps.items():
        assert c == min(members)


point_sets = st.lists(
    st.tuples(
        st.floats(0.0, 100.0, allow_nan=False),
        st.integers(0, 50),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(pts=point_sets)
def test_pareto_property_exact_frontier(spark, pts):
    df = spark.createDataFrame(pts, ["lo", "hi"])
    got = sorted(
        (r.lo, r.hi) for r in pareto_frontier(df, "lo", "hi").collect()
    )
    distinct = set(pts)

    def dominated(p):
        return any(
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])
            for q in distinct
        )

    expect = sorted(p for p in distinct if not dominated(p))
    assert got == expect


def test_star_cc_matches_bsp_on_fixtures(spark):
    from defimap_data_pipelines_spark.operators.graph import (
        connected_components_star,
    )

    # self-loops: 40 is otherwise isolated (a singleton component),
    # 2 and 8 also sit inside larger components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (7, 9), (20, 11), (11, 30),
         (40, 40), (2, 2), (8, 8)],
        ["doc_a", "doc_b"],
    )
    bsp = {
        r.node: r.component
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    star = {
        r.node: r.component
        for r in connected_components_star(edges, "doc_a", "doc_b").collect()
    }
    assert star == bsp


def test_star_cc_pathological_chain_bounded_rounds(spark):
    # a 200-node path has diameter 199: BSP min-label propagation would
    # need ~200 rounds (and raises at its default 25); star contraction
    # must finish within its default O(log^2 n) budget of 20.
    from defimap_data_pipelines_spark.operators.graph import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000, 1200)], ["doc_a", "doc_b"]
    )
    out = connected_components_star(edges, "doc_a", "doc_b")
    rows = out.collect()
    assert len(rows) == 201
    assert {r.component for r in rows} == {1000}


def test_star_cc_skewed_near_clique(spark):
    # hub-and-spokes (the skewed dup-cluster shape) plus a disjoint
    # triangle; star contraction must not mix components.
    from defimap_data_pipelines_spark.operators.graph import (
        connected_components_star,
    )

    hub = [(5000, i) for i in range(5001, 5060)]
    tri = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(hub + tri, ["doc_a", "doc_b"])
    labels = {
        r.node: r.component
        for r in connected_components_star(edges, "doc_a", "doc_b").collect()
    }
    assert all(labels[i] == 5000 for i in range(5000, 5060))
    assert labels[1] == labels[2] == labels[3] == 1


@settings(max_examples=8, deadline=None)
@given(edges=edge_lists)
def test_star_cc_property_matches_bsp(spark, edges):
    from defimap_data_pipelines_spark.operators.graph import (
        connected_components_star,
    )

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    bsp = {
        r.node: r.component
        for r in connected_components(df, "doc_a", "doc_b").collect()
    }
    star = {
        r.node: r.component
        for r in connected_components_star(df, "doc_a", "doc_b").collect()
    }
    assert star == bsp


def test_exact_grouped_quantile_ignores_nulls(spark):
    from defimap_data_pipelines_spark.operators.quantiles import (
        exact_grouped_quantile,
    )

    rows = [("g", float(v)) for v in range(1, 10)] + [("g", None)] * 5
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = exact_grouped_quantile(df, "grp", "val", q=0.5).collect()
    # median of 1..9 ignoring the 5 NULLs is 5; with NULLs miscounted
    # into the last bucket the chosen bucket shifts upward
    assert len(out) == 1 and out[0]["quantile"] == 5.0


def test_char_entropy_skips_empty_docs(spark):
    from defimap_data_pipelines_spark.operators.textops import (
        char_entropy_table,
    )

    df = spark.createDataFrame(
        [(1, "aabb"), (2, "   "), (3, "")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.entropy for r in char_entropy_table(df).collect()}
    # whitespace-only and empty docs normalize to "" -> excluded, not
    # silently scored as entropy 0
    assert set(out) == {1}
    assert out[1] == pytest.approx(math.log(2), abs=1e-9)


def test_cc_union_find_and_bsp_agree(spark):
    # the size gate routes small graphs to driver union-find; force the
    # BSP loop with a zero gate and require identical labels
    import random

    random.seed(7)
    edges_py = sorted(
        {
            (random.randint(1, 60), random.randint(1, 60))
            for _ in range(80)
        }
    )
    edges = spark.createDataFrame(edges_py, ["doc_a", "doc_b"])
    uf = {
        r.node: r.component
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    bsp = {
        r.node: r.component
        for r in connected_components(
            edges, "doc_a", "doc_b", small_graph_edges=0
        ).collect()
    }
    assert uf == bsp and len(uf) > 0

"""Closed-form tests for round-6 operators (timeseries + stats).

The registered queries are oracle-checked end-to-end by the parity
suite; these pin operator-level semantics on hand-computable inputs —
the properties a SQL replay cannot distinguish from coincidence.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _events(spark):
    rows = [
        (i, f"2024-01-{1 + (i % 3):02d} 0{i % 6}:1{i % 6}:00", float(i + 1))
        for i in range(18)
    ]
    return spark.createDataFrame(
        rows, "id long, ts_s string, value double"
    ).select("id", F.to_timestamp("ts_s").alias("ts"), "value")


class TestRollupCascade:
    def test_cascade_equals_direct(self, spark):
        from defimap_data_pipelines_spark.operators.timeseries import (
            rollup_cascade,
            rollup_level,
        )

        e = _events(spark)
        via_cascade = rollup_cascade(
            e, "ts", "value", ("minute", "hour", "day")
        )
        direct = rollup_level(e, "ts", "day", "value").select(
            "bucket",
            "n",
            "sum_q",
            "min_q",
            "max_q",
            (F.col("sum_q").cast("double") / F.col("n") / 100).alias(
                "avg"
            ),
        )
        assert sorted(via_cascade.collect()) == sorted(direct.collect())

    def test_state_reaggregation_requires_state(self, spark):
        import pytest

        from defimap_data_pipelines_spark.operators.timeseries import (
            rollup_level,
        )

        with pytest.raises(ValueError, match="lacks state"):
            rollup_level(_events(spark), "ts", "hour")


class TestAcf:
    def test_matches_plain_python(self, spark):
        from defimap_data_pipelines_spark.operators.timeseries import (
            acf_quantized,
        )

        xs = [3, 1, 4, 1, 5, 9, 2, 6]
        df = spark.createDataFrame(
            [(i, x) for i, x in enumerate(xs)], "t int, xq long"
        )
        got = {
            r["lag"]: r["acf"]
            for r in acf_quantized(df, "t", "xq", max_lag=3).collect()
        }
        n, s = len(xs), sum(xs)
        c = [n * x - s for x in xs]
        d = sum(v * v for v in c)
        for lag in (1, 2, 3):
            num = sum(c[t] * c[t - lag] for t in range(lag, n))
            assert got[lag] == round(num / d, 9), lag


class TestCusum:
    def test_matches_sequential_recursion(self, spark):
        from defimap_data_pipelines_spark.operators.timeseries import (
            cusum_scores,
        )

        xs = [5, 1, 9, 9, 2, 2, 8, 0, 7]
        df = spark.createDataFrame(
            [(i, x) for i, x in enumerate(xs)], "t int, xq long"
        )
        got = {
            r["t"]: r["score_q"]
            for r in cusum_scores(df, "t", "xq").collect()
        }
        n, s = len(xs), sum(xs)
        st, want = 0, {}
        for i, x in enumerate(xs):
            st = max(0, st + (n * x - s))
            want[i] = st
        assert got == want


class TestWelch:
    def test_matches_textbook_formula(self, spark):
        from defimap_data_pipelines_spark.operators.stats import (
            welch_t_pairs,
        )

        a = [1.0, 2.0, 3.0, 4.0]
        b = [2.0, 4.0, 6.0, 8.0, 10.0]
        df = spark.createDataFrame(
            [("a", x) for x in a] + [("b", x) for x in b],
            "g string, v double",
        )
        row = welch_t_pairs(df, "g", "v", quantum=100).collect()[0]

        def mv(xs):
            n = len(xs)
            m = sum(xs) / n
            v = sum((x - m) ** 2 for x in xs) / (n - 1)
            return n, m, v

        na, ma, va = mv(a)
        nb, mb, vb = mv(b)
        t = (ma - mb) / math.sqrt(va / na + vb / nb)
        dfree = (va / na + vb / nb) ** 2 / (
            (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
        )
        assert abs(row["t"] - t) < 1e-8
        assert abs(row["df"] - dfree) < 1e-5
        assert (row["n_a"], row["n_b"]) == (4, 5)

    def test_singleton_groups_dropped(self, spark):
        from defimap_data_pipelines_spark.operators.stats import (
            welch_t_pairs,
        )

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("solo", 9.0), ("b", 3.0), ("b", 4.0)],
            "g string, v double",
        )
        pairs = {
            (r["g_a"], r["g_b"])
            for r in welch_t_pairs(df, "g", "v").collect()
        }
        assert pairs == {("a", "b")}  # n=1 group has no variance


class TestChi2:
    def test_2x2_hand_example(self, spark):
        from defimap_data_pipelines_spark.operators.stats import (
            chi2_independence,
        )

        # classic 2x2: O = [[10, 20], [20, 10]]; N=60, all marginals 30
        # E = 15 everywhere; chi2 = 4 * 25/15 = 20/3
        rows = (
            [("r1", "c1")] * 10
            + [("r1", "c2")] * 20
            + [("r2", "c1")] * 20
            + [("r2", "c2")] * 10
        )
        df = spark.createDataFrame(rows, "r string, c string")
        out = chi2_independence(df, "r", "c").collect()[0]
        assert abs(out["chi2"] - 20 / 3) < 1e-5
        assert out["dof"] == 1 and out["n"] == 60

    def test_independent_columns_near_zero(self, spark):
        from defimap_data_pipelines_spark.operators.stats import (
            chi2_independence,
        )

        # perfectly proportional table -> chi2 exactly 0
        rows = (
            [("r1", "c1")] * 6
            + [("r1", "c2")] * 12
            + [("r2", "c1")] * 3
            + [("r2", "c2")] * 6
        )
        df = spark.createDataFrame(rows, "r string, c string")
        out = chi2_independence(df, "r", "c").collect()[0]
        assert out["chi2"] == 0.0


class TestSsspRounds:
    def test_hop_bound_and_shortcuts(self, spark):
        from defimap_data_pipelines_spark.operators.graph import sssp_rounds

        # path a-b-c-d-e-f (w=1 each) + expensive direct a-b shortcut
        edges = [
            ("a", "b", 10),
            ("a", "c", 1),
            ("c", "b", 1),
            ("b", "d", 1),
            ("d", "e", 1),
            ("e", "f", 1),
        ]
        sym = edges + [(v, u, w) for u, v, w in edges]
        e = spark.createDataFrame(sym, "u string, v string, w long")
        seeds = spark.createDataFrame([("a",)], "n string")
        got = {
            r["node"]: r["dist"]
            for r in sssp_rounds(e, seeds, rounds=4).collect()
        }
        # 2-hop path a-c-b (cost 2) beats the direct w=10 edge
        assert got["b"] == 2 and got["c"] == 1
        assert got["d"] == 3 and got["e"] == 4
        # f is 5 hops out on the cheap path; within 4 rounds the only
        # discovered route is a-b(10)-d-e-f
        assert got["f"] == 13

    def test_multi_source_min(self, spark):
        from defimap_data_pipelines_spark.operators.graph import sssp_rounds

        edges = [("a", "m", 5), ("b", "m", 2)]
        sym = edges + [(v, u, w) for u, v, w in edges]
        e = spark.createDataFrame(sym, "u string, v string, w long")
        seeds = spark.createDataFrame([("a",), ("b",)], "n string")
        got = {
            r["node"]: r["dist"]
            for r in sssp_rounds(e, seeds, rounds=2).collect()
        }
        assert got["m"] == 2  # nearer seed wins


class TestResourceAllocation:
    def test_square_graph(self, spark):
        from defimap_data_pipelines_spark.operators.graph import (
            resource_allocation_linkpred,
        )

        # 4-cycle a-b-c-d-a: non-adjacent diagonals share two deg-2
        # neighbors -> RA = 2 * (1e6 div 2) = 1_000_000
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
            "u string, v string",
        )
        got = {
            (r["x"], r["y"]): r["score_u"]
            for r in resource_allocation_linkpred(e).collect()
        }
        assert got == {("a", "c"): 1_000_000, ("b", "d"): 1_000_000}

    def test_hub_cap_drops_hub_wedges(self, spark):
        from defimap_data_pipelines_spark.operators.graph import (
            resource_allocation_linkpred,
        )

        # star center h (deg 3) is the only common neighbor
        e = spark.createDataFrame(
            [("h", "x"), ("h", "y"), ("h", "z")], "u string, v string"
        )
        full = resource_allocation_linkpred(e).count()
        capped = resource_allocation_linkpred(e, max_hub_degree=2).count()
        assert full == 3 and capped == 0


class TestAssortativity:
    def test_star_is_perfectly_disassortative(self, spark):
        from defimap_data_pipelines_spark.operators.graph import (
            degree_assortativity,
        )

        e = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], "u long, v long"
        )
        row = degree_assortativity(e).collect()[0]
        assert row["m_edges"] == 6  # symmetrized
        assert row["r"] == -1.0

    @staticmethod
    def _six_sums(e):
        """Reference: all six sums over the symmetrized edge list."""
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        ju = deg.select(F.col("u").alias("_u"), F.col("deg").alias("j"))
        kv = deg.select(F.col("u").alias("_v"), F.col("deg").alias("k"))
        dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        j, k = F.col("j"), F.col("k")
        s = (
            sym.join(ju, sym["u"] == ju["_u"])
            .join(kv, sym["v"] == kv["_v"])
            .agg(
                F.count(F.lit(1)).alias("m"),
                F.sum(dec(j)).alias("sj"),
                F.sum(dec(k)).alias("sk"),
                F.sum(dec(j * k)).alias("sjk"),
                F.sum(dec(j * j)).alias("sj2"),
                F.sum(dec(k * k)).alias("sk2"),
            )
        )
        m, sj, sk, sjk, sj2, sk2 = (
            F.col(c).cast("double") for c in ("m", "sj", "sk", "sjk", "sj2", "sk2")
        )
        r = (m * sjk - sj * sk) / F.sqrt((m * sj2 - sj * sj) * (m * sk2 - sk * sk))
        return s.select(F.col("m").alias("m_edges"), F.round(r, 9).alias("r"))

    def test_matches_six_sum_formulation(self, spark):
        """A hub, a duplicate edge and a self-loop: the degree-frame
        sums give the six-sum row exactly; a null-endpoint edge is
        dropped."""
        from defimap_data_pipelines_spark.operators.graph import (
            degree_assortativity,
        )

        rows = [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (1, 2), (1, 2),
                (3, 3), (4, 5), (5, 6), (6, 7)]
        e = spark.createDataFrame(rows, "u long, v long")
        want = self._six_sums(e).collect()
        assert want[0]["m_edges"] == 22 and want[0]["r"] is not None
        assert degree_assortativity(e).collect() == want
        with_nulls = spark.createDataFrame(
            rows + [(None, 1), (2, None), (None, None)], "u long, v long"
        )
        assert degree_assortativity(with_nulls).collect() == want

    def test_equal_degrees_give_null_r(self, spark):
        """Every node of one degree leaves both variances 0, so r is
        NULL, as DuckDB evaluates the oracle expression; under ANSI
        mode the plain division raised DIVIDE_BY_ZERO."""
        from defimap_data_pipelines_spark.operators.graph import (
            degree_assortativity,
        )

        for rows, m in (([(1, 2), (3, 4)], 4), ([(1, 1)], 2)):
            e = spark.createDataFrame(rows, "u long, v long")
            assert degree_assortativity(e).collect() == [(m, None)]


class TestWinnowing:
    def test_matches_python_reimplementation(self, spark):
        import hashlib

        from defimap_data_pipelines_spark.operators.textops import (
            winnowing_fingerprints,
        )

        text = "the quick brown fox jumps over the lazy dog again"
        toks = text.lower().split()
        k, w = 3, 4
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            for g in grams
        ]
        fps = {
            min(hs[p : p + w]) for p in range(len(hs) - w + 1)
        }
        want_sum = sum(h % 1000000007 for h in fps)

        d = spark.createDataFrame([(1, text)], "doc_id long, text string")
        row = winnowing_fingerprints(d, k=k, w=w).collect()[0]
        assert row["n_grams"] == len(grams)
        assert row["n_fp"] == len(fps)
        assert row["fp_sum"] == want_sum

    def test_short_docs_dropped(self, spark):
        from defimap_data_pipelines_spark.operators.textops import (
            winnowing_fingerprints,
        )

        d = spark.createDataFrame(
            [(1, "too few words here"), (2, "a b c d e f g h")],
            "doc_id long, text string",
        )
        # doc 1 has 4 tokens -> 2 trigrams < w=4 windows -> dropped
        got = [r["doc"] for r in winnowing_fingerprints(d).collect()]
        assert got == [2]


class TestContainment:
    def test_embedded_doc_scores_full(self, spark):
        from defimap_data_pipelines_spark.operators.dedup import (
            containment_pairs,
        )

        short = "alpha beta gamma delta epsilon zeta"
        long_ = short + " eta theta iota kappa lambda mu nu xi"
        other = "one two three four five six seven eight nine"
        d = spark.createDataFrame(
            [(1, short), (2, long_), (3, other)],
            "doc_id long, text string",
        )
        rows = containment_pairs(d, n=3, threshold_bp=5000).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["doc_a"], r["doc_b"]) == (1, 2)
        assert r["cont_bp"] == 10000  # short fully inside long

    def test_doc_freq_cap_prunes(self, spark):
        from defimap_data_pipelines_spark.operators.dedup import (
            containment_pairs,
        )

        t = "same exact shingle text everywhere repeated tokens"
        d = spark.createDataFrame(
            [(i, t) for i in range(5)], "doc_id long, text string"
        )
        full = containment_pairs(d).count()
        capped = containment_pairs(d, max_doc_freq=2).count()
        assert full == 10 and capped == 0  # every shingle df=5 > 2


class TestGini:
    def test_uniform_is_zero_and_monopoly_extreme(self, spark):
        from defimap_data_pipelines_spark.operators.stats import (
            gini_by_group,
        )

        rows = [("u", i, 7) for i in range(10)] + [
            ("m", 0, 100),
            ("m", 1, 0),
            ("m", 2, 0),
            ("m", 3, 0),
        ]
        d = spark.createDataFrame(rows, "g string, id long, x long")
        got = {
            r["g"]: r["gini"] for r in gini_by_group(d, "g", "x", "id").collect()
        }
        assert got["u"] == 0.0
        assert got["m"] == 0.75  # (n-1)/n with one holder of all mass


class TestRankBuckets:
    def test_even_quartiles(self, spark):
        from defimap_data_pipelines_spark.operators.stats import (
            rank_buckets,
        )

        d = spark.createDataFrame(
            [(i, i * 10) for i in range(8)], "id long, v long"
        )
        got = {
            r["id"]: r["b"]
            for r in rank_buckets(d, "v", "id", 4, "b").collect()
        }
        assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 3}


class TestBigramPerplexity:
    def test_matches_python_model(self, spark):
        import math

        from defimap_data_pipelines_spark.operators.ranking import (
            bigram_perplexity,
        )

        docs = {1: "a b a b c", 2: "c c a"}
        d = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        # corpus LM
        from collections import Counter

        bi = Counter()
        for t in docs.values():
            w = t.split()
            bi.update(zip(w, w[1:]))
        pref = Counter()
        for (a, _), c in bi.items():
            pref[a] += c
        vocab = {w for t in docs.values() for w in t.split()}
        want = {}
        for did, t in docs.items():
            w = t.split()
            qs = [
                round(
                    math.log(
                        (bi[(a, b)] + 1) / (pref[a] + len(vocab))
                    )
                    * 1e9
                )
                for a, b in zip(w, w[1:])
            ]
            want[did] = round(math.exp(-(sum(qs) / 1e9) / len(qs)), 6)
        got = {
            r["doc_id"]: r["ppl"] for r in bigram_perplexity(d).collect()
        }
        assert got == want

    def test_word_order_sensitivity(self, spark):
        from defimap_data_pipelines_spark.operators.ranking import (
            bigram_perplexity,
        )

        fluent = "the cat sat on the mat " * 5
        shuffled = "mat the on sat the cat " * 5
        filler = [
            (i + 10, "the cat sat on the mat again today")
            for i in range(6)
        ]
        d = spark.createDataFrame(
            [(1, fluent), (2, shuffled)] + filler,
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["ppl"] for r in bigram_perplexity(d).collect()
        }
        # same unigram distribution, but the shuffled doc's
        # transitions are rare -> higher bigram perplexity
        assert got[2] > got[1]


class TestQuantileNormalize:
    def test_textbook_example(self, spark):
        from defimap_data_pipelines_spark.operators.cleaning import (
            quantile_normalize_dims,
        )

        emb = spark.createDataFrame(
            [(1, [5.0, 4.0]), (2, [2.0, 1.0]), (3, [3.0, 2.0])],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["id"], r["dim"]): r["ref_q"]
            for r in quantile_normalize_dims(emb).collect()
        }
        # sorted dim0: 2,3,5 ; dim1: 1,2,4 -> rank means:
        # r1 (2+1)/2=1.5, r2 (3+2)/2=2.5, r3 (5+4)/2=4.5 (micro, trunc)
        assert got[(2, 0)] == 1_500_000 and got[(2, 1)] == 1_500_000
        assert got[(3, 0)] == 2_500_000 and got[(3, 1)] == 2_500_000
        assert got[(1, 0)] == 4_500_000 and got[(1, 1)] == 4_500_000

    def test_marginals_identical_after(self, spark):
        from defimap_data_pipelines_spark.operators.cleaning import (
            quantile_normalize_dims,
        )

        import random

        rnd = random.Random(7)
        rows = [
            (i, [rnd.uniform(-3, 3) for _ in range(4)]) for i in range(40)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        out = quantile_normalize_dims(emb)
        per_dim = {
            r["dim"]: r["vals"]
            for r in out.groupBy("dim")
            .agg(F.sort_array(F.collect_list("ref_q")).alias("vals"))
            .collect()
        }
        vals = list(per_dim.values())
        assert all(v == vals[0] for v in vals[1:])


class TestPqEncode:
    def test_coincident_vectors_zero_error(self, spark):
        """Four distinct repeated 4-dim patterns, subspaces of 2 dims:
        after one Lloyd round each pattern's subvector IS a centroid,
        so reconstruction error is exactly zero and each code cell
        holds its pattern's population."""
        from pyspark.sql import Window

        from defimap_data_pipelines_spark.operators.clustering import (
            assign_clusters,
            update_centroids,
        )

        pats = [[0.0, 0.0], [1.0, 1.0], [5.0, 5.0], [9.0, 9.0]]
        rows = [(i, pats[i % 4] + pats[(i + 1) % 4]) for i in range(20)]
        v = spark.createDataFrame(
            rows, "vec_id long, e array<double>"
        )
        for s, start in enumerate((1, 3)):
            vs = v.select("vec_id", F.slice("e", start, 2).alias("e"))
            init = (
                vs.orderBy("vec_id")
                .limit(4)
                .select(
                    F.row_number()
                    .over(Window.orderBy("vec_id"))
                    .alias("cluster"),
                    F.col("e").alias("c"),
                )
            )
            trained = update_centroids(assign_clusters(vs, init))
            out = assign_clusters(vs, trained)
            assert out.filter(F.col("dist") != 0.0).count() == 0
            sizes = sorted(
                r["n"]
                for r in out.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            assert sizes == [5, 5, 5, 5]


class TestIncrementalCC:
    def test_merge_and_new_nodes(self, spark):
        from defimap_data_pipelines_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        base = spark.createDataFrame(
            [(1, 2), (3, 4)], "src long, dst long"
        )
        labels = connected_components(base)
        # 2-3 merges the two old components; 5-6 is entirely new
        new = spark.createDataFrame(
            [(2, 3), (5, 6)], "src long, dst long"
        )
        got = {
            r["node"]: r["component"]
            for r in incremental_components(labels, new).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}

    def test_matches_full_recompute(self, spark):
        import random

        from defimap_data_pipelines_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        rnd = random.Random(13)
        edges = [
            (rnd.randrange(40), rnd.randrange(40)) for _ in range(60)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        cut = len(edges) // 2
        base = spark.createDataFrame(edges[:cut], "src long, dst long")
        new = spark.createDataFrame(edges[cut:], "src long, dst long")
        full = spark.createDataFrame(edges, "src long, dst long")
        inc = {
            r["node"]: r["component"]
            for r in incremental_components(
                connected_components(base), new
            ).collect()
        }
        ref = {
            r["node"]: r["component"]
            for r in connected_components(full).collect()
        }
        assert inc == ref


class TestSkewReport:
    def test_hand_buckets(self, spark):
        from defimap_data_pipelines_spark.operators.skew import skew_report

        rows = (
            [("a",)] + [("b",)] * 2 + [("c",)] * 2 + [("d",)] * 5
        )
        df = spark.createDataFrame(rows, "k string")
        got = {
            r["bucket"]: (
                r["n_keys"],
                r["n_rows"],
                r["max_count"],
                r["heaviest_key"],
            )
            for r in skew_report(df, "k").collect()
        }
        assert got == {
            0: (1, 1, 1, "a"),
            1: (2, 4, 2, "c"),  # tie c/b broken toward max key
            2: (1, 5, 5, "d"),
        }


# ---------------------------------------------------------------------------
# Property tests (hypothesis) for the round-6 recursion/closed-form pairs
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


class TestRound6Properties:
    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=2,
            max_size=25,
        )
    )
    def test_cusum_closed_form_equals_loop(self, spark, xs):
        from defimap_data_pipelines_spark.operators.timeseries import (
            cusum_scores,
        )

        df = spark.createDataFrame(
            [(i, x) for i, x in enumerate(xs)], "t int, xq long"
        )
        got = {
            r["t"]: r["score_q"]
            for r in cusum_scores(df, "t", "xq").collect()
        }
        n, s = len(xs), sum(xs)
        stv, want = 0, {}
        for i, x in enumerate(xs):
            stv = max(0, stv + (n * x - s))
            want[i] = stv
        assert got == want

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.sampled_from("abcdefg"),
            min_size=6,
            max_size=40,
        )
    )
    def test_winnowing_equals_python(self, spark, toks):
        import hashlib

        from defimap_data_pipelines_spark.operators.textops import (
            winnowing_fingerprints,
        )

        text = " ".join(toks)
        k, w = 3, 4
        grams = [
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        ]
        d = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        rows = winnowing_fingerprints(d, k=k, w=w).collect()
        if len(grams) < w:
            assert rows == []
            return
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            for g in grams
        ]
        fps = {min(hs[p : p + w]) for p in range(len(hs) - w + 1)}
        assert rows[0]["n_fp"] == len(fps)
        assert rows[0]["fp_sum"] == sum(h % 1000000007 for h in fps)

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=25),
                st.integers(min_value=0, max_value=25),
            ),
            min_size=1,
            max_size=40,
        )
    )
    def test_incremental_cc_any_split(self, spark, edges):
        from defimap_data_pipelines_spark.operators.graph import (
            connected_components,
            incremental_components,
        )

        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            return
        cut = len(edges) // 2
        base, new = edges[:cut], edges[cut:]
        full = spark.createDataFrame(edges, "src long, dst long")
        ref = {
            r["node"]: r["component"]
            for r in connected_components(full).collect()
        }
        if not base or not new:
            return
        inc = {
            r["node"]: r["component"]
            for r in incremental_components(
                connected_components(
                    spark.createDataFrame(base, "src long, dst long")
                ),
                spark.createDataFrame(new, "src long, dst long"),
            ).collect()
        }
        assert inc == ref


class TestDeterministicWalks:
    def test_paths_follow_edges_and_replay(self, spark):
        from defimap_data_pipelines_spark.operators.graph import (
            deterministic_walks,
        )

        edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)]
        e = spark.createDataFrame(edges, "u long, v long")
        starts = spark.createDataFrame([(1,), (3,)], "n long")
        out = deterministic_walks(e, starts, walks_per_node=2, length=4)
        rows = out.collect()
        assert len(rows) == 4  # 2 starts x 2 walks
        adj = set()
        for u, v in edges:
            adj.add((u, v))
            adj.add((v, u))
        for r in rows:
            ids = [int(x) for x in r["path"].split("->")]
            assert ids[0] == r["start"] and len(ids) == 5
            for a, b in zip(ids, ids[1:]):
                assert (a, b) in adj, (r["path"], (a, b))
        # determinism: a second invocation yields identical paths
        again = {
            (r["start"], r["walk"]): r["path"]
            for r in deterministic_walks(
                e, starts, walks_per_node=2, length=4
            ).collect()
        }
        assert again == {(r["start"], r["walk"]): r["path"] for r in rows}

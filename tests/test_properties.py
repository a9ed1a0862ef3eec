"""Property tests (SURVEY.md §5.4): GOTK invariants, TVL telescoping,
interpolation idempotence, SQL front-end == DataFrame API."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators.growth import growth_of_10k
from defimap_data_pipelines_spark.operators.cleaning import interpolate_linear
from defimap_data_pipelines_spark.operators.tvl import tvl


def _raw_from_series(spark, prices, indices, apys):
    rows = [
        (
            f"2022-01-{i+1:02d}",
            "s",
            float(apys[i]),
            float(indices[i]),
            float(prices[i]),
            50.0,
            1000.0,
        )
        for i in range(len(prices))
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "date", "name", "aave_apy", "liquidity_index",
                "asset_price", "aave_price", "atoken_supply",
            ],
        )
    )
    return df.withColumn("date", F.col("date").cast("date"))


series = st.integers(2, 20).flatmap(
    lambda n: st.tuples(
        st.lists(st.floats(0.5, 500.0), min_size=n, max_size=n),
        st.lists(st.floats(0.0, 0.5), min_size=n, max_size=n),
        st.lists(st.floats(0.0, 50.0), min_size=n, max_size=n),
    )
)


@settings(max_examples=10, deadline=None)
@given(series)
def test_gotk_invariants(spark, data):
    prices, idx_steps, apys = data
    indices = [1.0]
    for s in idx_steps[1:]:
        indices.append(indices[-1] * (1 + s))  # monotone non-decreasing
    raw = _raw_from_series(spark, prices, indices, apys)
    out = growth_of_10k(raw).orderBy("date").collect()
    # edi > 0 everywhere
    assert all(r.end_day_investment > 0 for r in out)
    # pc composes: prod(1+pc) == edi_n / 10000
    prod = math.prod(1 + r.percent_change for r in out)
    assert prod == pytest.approx(out[-1].end_day_investment / 10000, rel=1e-9)
    # start_day = previous end_day
    for prev, cur in zip(out, out[1:]):
        assert cur.start_day_investment == pytest.approx(
            prev.end_day_investment
        )


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(1.0, 1e6), min_size=2, max_size=20))
def test_tvl_changes_telescope(spark, supplies):
    prices = [2.0] * len(supplies)
    rows = [
        (f"2022-01-{i+1:02d}", "s", 0.0, 1.0, prices[i], 50.0, float(supplies[i]))
        for i in range(len(supplies))
    ]
    raw = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "date", "name", "aave_apy", "liquidity_index",
                "asset_price", "aave_price", "atoken_supply",
            ],
        )
    ).withColumn("date", F.col("date").cast("date"))
    out = tvl(raw).orderBy("date").collect()
    # sum of changes telescopes to last - first
    assert sum(r.change_tvl for r in out) == pytest.approx(
        out[-1].tvl - out[0].tvl, rel=1e-9, abs=1e-6
    )


def test_interpolation_idempotent_on_complete_series(spark, sf_dir):
    from defimap_data_pipelines_spark.plans.domain import orders_raw_series

    raw = orders_raw_series(spark, sf_dir).select("date", "name", "asset_price")
    out = interpolate_linear(raw, ["asset_price"])
    joined = raw.alias("a").join(
        out.alias("b"), ["date", "name"]
    ).filter(F.col("a.asset_price") != F.col("b.asset_price"))
    assert joined.count() == 0


def test_sql_frontend_equals_dataframe_api(spark, sf_dir):
    from defimap_data_pipelines_spark.plans.domain import orders_raw_series
    from defimap_data_pipelines_spark.sql.frontend import sql_gotk

    via_sql = sql_gotk(spark, sf_dir).toPandas()
    via_df = growth_of_10k(orders_raw_series(spark, sf_dir)).toPandas()
    key = ["name", "date"]
    a = via_sql.sort_values(key).reset_index(drop=True)
    b = via_df.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[b.columns], b)


_doc_texts = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
        min_size=1,
        max_size=12,
    ).map(" ".join),
    min_size=2,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(_doc_texts, st.sampled_from([0.3, 0.5, 0.7]))
def test_jaccard_strategies_agree(spark, texts, threshold):
    """ngram_jaccard_pairs' inverted index and dense_jaccard_pairs'
    block matmul return identical (doc_a, doc_b, jaccard) sets on
    arbitrary corpora — both are exact, not approximations."""
    from defimap_data_pipelines_spark.operators.dedup import (
        dense_jaccard_pairs,
        doc_shingles,
        hashed_shingles,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(i, t) for i, t in enumerate(texts)], columns=["doc_id", "text"]
        )
    )
    hs = hashed_shingles(doc_shingles(docs))
    got = {
        name: sorted((r.doc_a, r.doc_b, r.jaccard) for r in df.collect())
        for name, df in (
            ("index", ngram_jaccard_pairs(docs, threshold=threshold)),
            ("dense", dense_jaccard_pairs(hs, threshold)),
        )
    }
    assert got["index"] == got["dense"]


@settings(max_examples=8, deadline=None)
@given(_doc_texts, st.sampled_from([2, 3]))
def test_line_dedup_conservation(spark, texts, tokens_per_line):
    """line_dedup never invents content: per doc, kept + dropped equals
    the segment count, and the reassembled text is a subsequence of the
    original segments in order."""
    from defimap_data_pipelines_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(i, t) for i, t in enumerate(texts)], columns=["doc_id", "text"]
        )
    )
    out = {
        r.doc_id: r
        for r in line_dedup(
            docs, max_count=2, tokens_per_line=tokens_per_line
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = t.split(" ")
        n = tokens_per_line
        segs = [
            " ".join(toks[j : j + n]) for j in range(0, len(toks), n)
        ]
        r = out[i]
        assert r.n_kept + r.n_dropped == len(segs)
        kept_segs = r.text_clean.split(" ") if r.text_clean else []
        # kept tokens appear in the original in order (subsequence)
        it = iter(toks)
        assert all(tok in it for tok in kept_segs)


@settings(max_examples=8, deadline=None)
@given(_doc_texts)
def test_vocab_ids_dense_and_ordered(spark, texts):
    from defimap_data_pipelines_spark.operators.ranking import vocab_ids

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(i, t) for i, t in enumerate(texts)], columns=["doc_id", "text"]
        )
    )
    rows = sorted(
        vocab_ids(docs, min_count=1).collect(), key=lambda r: r.token_id
    )
    assert [r.token_id for r in rows] == list(range(len(rows)))
    keys = [(-r.n_occurrences, r.token) for r in rows]
    assert keys == sorted(keys)


_mixed_texts = st.lists(
    st.lists(
        st.sampled_from(
            "the a of and to alpha beta 42 7 x9 zz".split()
        ),
        min_size=1,
        max_size=30,
    ).map(" ".join),
    min_size=1,
    max_size=10,
)


@settings(max_examples=8, deadline=None)
@given(_mixed_texts)
def test_gopher_rules_match_python_recomputation(spark, texts):
    """Every Gopher flag equals a direct python recomputation of the
    integer rules — the engine's expressions ARE the spec."""
    from defimap_data_pipelines_spark.operators.textops import gopher_rules

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(i, t) for i, t in enumerate(texts)],
            columns=["doc_id", "text"],
        )
    )
    out = {r.doc_id: r for r in gopher_rules(docs).collect()}
    for i, t in enumerate(texts):
        toks = t.lower().strip().split()
        n = len(toks) if toks else 1
        toks = toks or [""]
        sum_len = sum(len(w) for w in toks)
        n_alpha = sum(1 for w in toks if any(c.isalpha() for c in w))
        stops = len(set(toks) & {"the", "a", "of", "and", "to"})
        r = out[i]
        assert r.n_words == n
        assert r.rule_word_count == (50 <= n <= 100_000)
        assert r.rule_mean_word_len == (3 * n <= sum_len <= 10 * n)
        assert r.rule_alpha_fraction == (10 * n_alpha >= 8 * n)
        assert r.rule_stopwords == (stops >= 2)
        assert r.passes_gopher == (
            r.rule_word_count
            and r.rule_mean_word_len
            and r.rule_alpha_fraction
            and r.rule_stopwords
        )


@settings(max_examples=8, deadline=None)
@given(_mixed_texts)
def test_quality_classifier_matches_python_recomputation(spark, texts):
    """Classifier keep decisions and logits equal the integer-exact
    python recomputation (hashing, weights, micro-unit sums)."""
    import hashlib

    from defimap_data_pipelines_spark.operators.textops import (
        classifier_weights,
        quality_classifier,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            [(i, t) for i, t in enumerate(texts)],
            columns=["doc_id", "text"],
        )
    )
    w = classifier_weights()
    out = {r.doc_id: r for r in quality_classifier(docs).collect()}
    for i, t in enumerate(texts):
        toks = (t.lower().strip().split() or [""])
        acc = sum(
            w[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 256]
            for tok in toks
        )
        r = out[i]
        assert r.keep == (acc >= 0)
        # Spark/DuckDB ROUND is half-away-from-zero; python round()
        # is banker's — replicate the engines' mode
        from decimal import ROUND_HALF_UP, Decimal

        expect = float(
            Decimal(repr(acc / 1e6 / len(toks))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        assert abs(r.logit - expect) <= 1e-12
        assert -1.0 <= r.logit <= 1.0


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["response", "request", "metadata", "warcinfo"]),
            st.binary(min_size=0, max_size=512),
            st.one_of(st.none(), st.text(
                alphabet=st.characters(min_codepoint=33, max_codepoint=126),
                min_size=1, max_size=60,
            )),
        ),
        min_size=0,
        max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_warc_serialize_parse_roundtrip(records):
    """Any record sequence (arbitrary binary payloads, incl. payloads
    containing CRLF CRLF and fake 'WARC/' magic) round-trips through
    the serializer+parser exactly — Content-Length framing, not
    delimiter scanning, is what makes binary payloads safe."""
    from defimap_data_pipelines_spark.sources.warc import (
        parse_warc_bytes,
        warc_record_bytes,
    )

    raw = b"".join(
        warc_record_bytes(t, p, target_uri=u) for t, p, u in records
    )
    parsed = parse_warc_bytes(raw)
    assert len(parsed) == len(records)
    for rec, (t, p, u) in zip(parsed, records):
        assert rec["warc_type"] == t
        assert rec["payload"] == p
        assert rec["target_uri"] == u
        assert rec["content_length"] == len(p)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["response", "request", "metadata"]),
            st.binary(min_size=0, max_size=512),
        ),
        min_size=0,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=60, deadline=None)
def test_warc_gz_roundtrip_and_truncation_salvage(records, cut_back):
    """Per-record gzip members round-trip exactly (offsets = member
    starts), and ANY truncation point salvages a prefix of whole
    records without raising in salvage mode."""
    from defimap_data_pipelines_spark.sources.warc import (
        gzip_member_bytes,
        parse_warc_gz_bytes,
        warc_record_bytes,
    )

    members = [
        gzip_member_bytes(warc_record_bytes(t, p)) for t, p in records
    ]
    raw = b"".join(members)
    parsed = parse_warc_gz_bytes(raw)
    assert len(parsed) == len(records)
    pos = 0
    for rec, m, (t, p) in zip(parsed, members, records):
        assert rec["record_offset"] == pos
        assert rec["warc_type"] == t and rec["payload"] == p
        pos += len(m)
    # arbitrary truncation: salvage never raises, yields a record
    # prefix (whole members only)
    cut = raw[: max(0, len(raw) - cut_back)]
    salvaged = parse_warc_gz_bytes(cut, strict=False)
    assert len(salvaged) <= len(records)
    for rec, (t, p) in zip(salvaged, records):
        assert rec["warc_type"] == t and rec["payload"] == p


# ---------------------------------------------------------------------------
# Round-6 wave properties: Holt recursion, Mann-Whitney vs brute force,
# isotonic minimax identity under arbitrary integer inputs
# ---------------------------------------------------------------------------

@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(-10_000, 10_000), min_size=1, max_size=25
    )
)
def test_holt_matches_plain_recursion(spark, xs):
    """holt_quantized == the closed-form two-state trunc recursion for
    ANY integer series (signs, zeros, spikes)."""
    from defimap_data_pipelines_spark.operators.rolling import (
        holt_quantized,
    )

    rows = [("k", i, float(x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, o long, v double")
    got = {
        r["o"]: (r["level_q"], r["trend_q"])
        for r in holt_quantized(df, "k", "o", "v", micro=1).collect()
    }

    def trunc2(s):
        return -((-s) // 2) if s < 0 else s // 2

    l = b = None
    for i, x in enumerate(xs):
        if l is None:
            l, b = x, 0
        else:
            lp = l
            l = trunc2(x + l + b)
            b = trunc2((l - lp) + b)
        assert got[i] == (l, b), (i, xs)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 6), min_size=2, max_size=12),
    st.lists(st.integers(0, 6), min_size=2, max_size=12),
)
def test_mannwhitney_matches_bruteforce(spark, xs, ys):
    """Block-arithmetic U == the O(n*m) pairwise definition, with
    heavy ties (values drawn from 7 levels)."""
    from defimap_data_pipelines_spark.operators.stats import (
        mannwhitney_pairs,
    )

    rows = [("a", float(v)) for v in xs] + [("b", float(v)) for v in ys]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mannwhitney_pairs(df, "g", "v", quantum=1).collect()
    u2_brute = 0
    for a in xs:
        for b in ys:
            if a > b:
                u2_brute += 2
            elif a == b:
                u2_brute += 1
    # all-tied (zero variance) inputs are dropped by contract
    combined = xs + ys
    if all(v == combined[0] for v in combined):
        assert got == []
    else:
        assert len(got) == 1
        assert got[0]["u2"] == u2_brute, (xs, ys)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-20, 20), st.integers(1, 4)),
        min_size=1,
        max_size=8,
    )
)
def test_isotonic_pava_equals_minimax(spark, pts):
    """Stack PAVA == max-min interval identity (exact fractions) for
    arbitrary weighted integer points — the operator/oracle
    equivalence as a property, not just on the registered query."""
    from fractions import Fraction

    from defimap_data_pipelines_spark.operators.cleaning import (
        isotonic_fit,
    )

    raw = []
    for x, (s, c) in enumerate(pts):
        base = s // c
        rem = s - base * c
        for r in range(c):
            raw.append(("g", x, base + (1 if r < rem else 0)))
    df = spark.createDataFrame(raw, "g string, x long, y long")
    got = {
        r["x"]: r["y_hat_micro"]
        for r in isotonic_fit(df, "g", "x", "y").collect()
    }
    ss = [s for s, _ in pts]
    cs = [c for _, c in pts]
    n = len(pts)
    for k in range(n):
        best = None
        for i in range(k + 1):
            worst = None
            for j in range(k, n):
                m = Fraction(sum(ss[i:j + 1]), sum(cs[i:j + 1]))
                worst = m if worst is None else min(worst, m)
            best = worst if best is None else max(best, worst)
        v = best * 1_000_000
        q = int(v) if v >= 0 else -int(-v)
        assert got[k] == q, (pts, k)
    fit = [got[k] for k in range(n)]
    assert all(a <= b for a, b in zip(fit, fit[1:]))

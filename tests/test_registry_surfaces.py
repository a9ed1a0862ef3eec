"""Freshness gates for the registry-derived surfaces.

The r6 verdict found that the committed docs/QUERY_INDEX.md said 244
queries while the registry held 268. These tests make that drift a
local red: every registry change must regenerate the index
(tools/query_index.py). Registry-wide timing needs no hand-kept list:
tools/parity.py times every query in QUERIES as it checks it.
"""

from __future__ import annotations

import os
import re

from defimap_data_pipelines_spark.plans.queries import ORACLE, QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_query_index_total_matches_registry():
    path = os.path.join(REPO, "docs", "QUERY_INDEX.md")
    text = open(path).read()
    m = re.search(r"Total: (\d+) queries, (\d+) oracle-backed", text)
    assert m, "QUERY_INDEX.md missing its Total line"
    assert int(m.group(1)) == len(QUERIES), (
        f"QUERY_INDEX.md says {m.group(1)} queries but the registry "
        f"has {len(QUERIES)} — run tools/query_index.py"
    )
    assert int(m.group(2)) == len(ORACLE), (
        f"QUERY_INDEX.md says {m.group(2)} oracle-backed but the "
        f"registry has {len(ORACLE)} — run tools/query_index.py"
    )


def test_query_index_rows_match_registry():
    path = os.path.join(REPO, "docs", "QUERY_INDEX.md")
    rows = set()
    for line in open(path):
        m = re.match(r"\| \d+ \| `([^`]+)` \|", line)
        if m:
            rows.add(m.group(1))
    assert rows == set(QUERIES), (
        f"index/registry drift: only-in-index={sorted(rows - set(QUERIES))[:5]} "
        f"only-in-registry={sorted(set(QUERIES) - rows)[:5]}"
    )


# --------------------------------------------------------------------------
# int64 moment-product headroom lint (r7 verdict item 4)
#
# The ar1_halflife/cuped lessons: a product of two DATA-SCALED int64
# aggregates (n * sum_sq - sum * sum, count * count, ...) silently
# loses headroom as SF grows — Spark wraps (or ANSI-faults) where
# DuckDB promotes to HUGEINT, a cross-engine divergence invisible to
# small-SF parity. Discipline: such products either cast each FACTOR
# to double first (or widen to decimal(38,0)/HUGEINT when exactness
# is load-bearing), or carry an explicit bounded-by-construction
# "headroom:" annotation (fixed window / calendar tail / vocab-rank
# bound). These lints make a revert of the r8 sweep a local red.
# --------------------------------------------------------------------------

# raw int64 product-minus-product inside oracle SQL; factors may be
# bare identifiers or single-level parenthesized expressions (the
# gini (n + 1) * sx form the first pattern missed). Factor-level
# CAST(x AS DOUBLE)/HUGEINT forms do not match: the CAST's nested
# parens break the single-level factor.
_SQL_FACTOR = r"(?:\w+|\([^()]+\))"
_SQL_MOMENT_PAT = re.compile(
    rf"{_SQL_FACTOR}\s*\*\s*{_SQL_FACTOR}\s*-\s*"
    rf"{_SQL_FACTOR}\s*\*\s*{_SQL_FACTOR}"
)

# queries allowed to keep the raw integer form, with the reason the
# product is NOT data-volume-scaled
_SQL_MOMENT_BOUNDED = {
    "risk": "float moments (reference-parity flagship) — not int64",
    "q9_product_profit": "row-level float price arithmetic (TPC-H)",
    "rolling_beta": "fixed 30-row window",
    "information_ratio": "365-row calendar tail",
    "zipf_fit": "rank/vocab-bounded log-scale sums",
    "heaps_fit": "log-log curve sample-count bounded",
}


def test_oracle_moment_products_have_headroom():
    from defimap_data_pipelines_spark.plans import queries as q

    offenders = {}
    for name, sql in ORACLE.items():
        if not _SQL_MOMENT_PAT.search(sql):
            continue
        if name in _SQL_MOMENT_BOUNDED:
            # bounded INT sites must carry the annotation in the SQL
            # itself so the bound is auditable; float-typed matches
            # (risk's float moments, Q9's price arithmetic) have no
            # int64 bound to document
            if name not in ("risk", "q9_product_profit"):
                assert "headroom:" in sql, (
                    f"{name} is allowlisted as bounded but its oracle "
                    "SQL lost the '-- headroom:' annotation"
                )
            continue
        offenders[name] = _SQL_MOMENT_PAT.search(sql).group(0)
    assert not offenders, (
        f"oracle SQL with raw int64 moment products (overflow class — "
        f"cast each factor to DOUBLE or widen to HUGEINT, or allowlist "
        f"with a bounded-by-construction reason): {offenders}"
    )


def test_swept_sites_keep_factor_level_casts():
    """Direct revert guard for the r8 overflow sweep: the three
    prescribed queries must not regress to CAST(a*b - c*d AS DOUBLE),
    and the two rows-squared sites must keep their HUGEINT widening."""
    cast_pat = re.compile(
        r"CAST\(\s*\w+\s*\*\s*\w+\s*-\s*\w+\s*\*\s*\w+\s+AS\s+DOUBLE\)",
        re.I,
    )
    for name in ("cuped_adjustment", "leadlag_xcorr", "variance_ratio"):
        assert not cast_pat.search(ORACLE[name]), (
            f"{name} reverted to the int64-product-then-cast form"
        )
    for name in (
        "ks_drift",
        "wasserstein_drift",
        "gini_concentration",
        "mannwhitney_u",
        "kruskal_wallis",
        "roc_auc",
        "pr_auc",
        "cohens_kappa",
        "degree_assortativity",
        "ams_f2_moment",
        "acf_lags",
        "ljung_box",
        # r9 widenings: quadratic daily-mass moments, literal-weight
        # loss sums (~3e9 nano per row), member-mass squares
        "partial_corr",
        "logloss_binned",
        "hhi_concentration",
    ):
        assert "HUGEINT" in ORACLE[name], (
            f"{name} lost its HUGEINT widening (rank sums / marginal "
            "products / tie terms are rows-squared- or cubed-scaled)"
        )


def test_shared_float_chain_expressions_are_single_sourced():
    """r8 verdict task 7(b): the fixed-order float expressions shared
    between engine and oracle (pearson_r_expr, PARTIAL_R_EXPR,
    ljung_box_q_expr, TWO_PROP_Z_EXPR, the logloss nano weights, the
    MRR LCM) must stay SINGLE-SOURCED — the oracle SQL embeds the
    exact rendered text AND the Spark operator consumes the same
    python object, so the two engines' float trees cannot drift
    apart silently."""
    import inspect

    from defimap_data_pipelines_spark.operators import (
        experiments,
        evalmetrics,
        stats,
        timeseries,
    )

    # 1. oracle SQL contains the exact rendered helper text
    assert (
        stats.pearson_r_expr("_sxy", "_sx", "_sy", "_sxx", "_syy")
        in ORACLE["partial_corr"]
    )
    assert stats.PARTIAL_R_EXPR in ORACLE["partial_corr"]
    assert timeseries.ljung_box_q_expr(7) in ORACLE["ljung_box"]
    assert (
        experiments.TWO_PROP_Z_EXPR in ORACLE["two_proportion_ztest"]
    )
    pos_w, neg_w = evalmetrics.logloss_nano_weights(10)
    for w in (pos_w[0], pos_w[9], neg_w[0], neg_w[9]):
        assert str(w) in ORACLE["logloss_binned"], w
    assert "2520 // frk" in ORACLE["mrr_at_k"]

    # 2. the Spark operator references the SAME shared object (not a
    # hand-rebuilt Column tree that could diverge)
    assert "pearson_r_expr(" in inspect.getsource(stats.partial_corr)
    assert "PARTIAL_R_EXPR" in inspect.getsource(stats.partial_corr)
    assert "ljung_box_q_expr(" in inspect.getsource(timeseries.ljung_box)
    assert "TWO_PROP_Z_EXPR" in inspect.getsource(
        experiments.two_proportion_ztest
    )
    assert "logloss_nano_weights(" in inspect.getsource(
        evalmetrics.logloss_binned
    )


# operator-side twin: product-minus-product wrapped in .cast("double")
_PY_MOMENT_PAT = re.compile(
    r"\(\s*[\w.()\"']+\s*\*\s*[\w.()\"']+\s*-\s*[\w.()\"']+\s*\*\s*"
    r"[\w.()\"']+\s*\)\s*\.cast\(\s*\"double\"\s*\)",
    re.S,
)


def test_operator_moment_products_have_headroom():
    import glob

    offenders = []
    pkg = os.path.join(REPO, "defimap_data_pipelines_spark")
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(path).read()
        for m in _PY_MOMENT_PAT.finditer(src):
            body = m.group(0)
            # factor-level casts inside the product are the fix, not
            # the bug
            if '.cast("double")' in body[: body.rfind(".cast")]:
                continue
            line = src[: m.start()].count("\n") + 1
            # a '# headroom:' annotation within the preceding 10
            # lines marks a verified bounded-by-construction site
            preceding = "\n".join(src[: m.start()].split("\n")[-10:])
            if "headroom:" in preceding:
                continue
            offenders.append(f"{os.path.relpath(path, REPO)}:{line}")
    assert not offenders, (
        "operator-side int64 moment products without factor-level "
        f"casts or a '# headroom:' bounded annotation: {offenders}"
    )


def test_driver_window_is_registry_prefix():
    """The driver's correctness gate checks the FIRST 50 registered
    queries; _DRIVER_WINDOW documents and pins that set. If a
    registration reorders the prefix, the driver would silently
    validate the wrong 50 — make that a local red."""
    from defimap_data_pipelines_spark.plans.queries import (
        _DRIVER_WINDOW,
    )

    prefix = list(QUERIES)[: len(_DRIVER_WINDOW)]
    assert prefix == _DRIVER_WINDOW, (
        "registry prefix drifted from _DRIVER_WINDOW: "
        f"{[ (a, b) for a, b in zip(prefix, _DRIVER_WINDOW) if a != b ][:5]}"
    )
    assert prefix[:9] == [
        "gotk",
        "total_return",
        "tvl",
        "trailing_return",
        "return_1y",
        "benchmark_capital_gotk",
        "benchmark_price_gotk",
        "interpolate_linear",
        "risk",
    ], "the 9 reference-parity flagships must stay first (SURVEY §2)"


def test_plan_audit_covers_registry():
    """docs/PLAN_AUDIT.md is the plan-regression baseline for
    `tools/explain_audit.py --check` — it must cover every registered
    query (a registration without an audit line ships with no plan
    ratchet; regenerate the audit)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "explain_audit", os.path.join(REPO, "tools", "explain_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    audited = set(mod.committed_exchange_counts())
    missing = sorted(set(QUERIES) - audited)
    assert not missing, (
        f"queries absent from docs/PLAN_AUDIT.md: {missing[:10]} — "
        "run tools/explain_audit.py and refresh the doc"
    )

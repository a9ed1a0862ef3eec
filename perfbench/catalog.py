"""The per-layer metric catalogue, shared by both workloads.

Every traced run reports every metric below; a layer a workload never
calls reads 0 there. Times are span self times (see ``spans.rollup``),
as a mean per timed pass, except the ``incremental.*_step_s`` and
``incremental.state_write_s`` ones, which are medians over days.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import rollup

# analytics_mix: query -> operator family (the family sums are
# ``operators.<family>_s``; the streaming ones sum to ``streaming.exec_s``)
QUERY_FAMILY = {
    "gotk": "windows",
    "q1_pricing_summary": "joins",
    "q3_shipping_priority": "joins",
    "dedup_exact": "dedup",
    "cosine_topk": "similarity",
    "quality_score": "text",
    "gopher_rules": "text",
    "exact_quantiles": "stats",
    "degree_assortativity": "graph",
    "stream_quality_exec": "streaming",
}
FAMILIES = ["windows", "joins", "dedup", "similarity", "text", "stats", "graph"]
GOLD = ["growth_of_10k", "tvl", "pre_total_return", "pre_trailing_return", "pre_risk"]
INCREMENTAL_STEPS = ["gotk_step", "tvl_step", "state_write"]
COUNT_LAYERS = ["ingest", "transform", "load", "incremental", "operators", "streaming"]
COUNTS = ["jobs", "stages", "tasks", "tasks_failed"]


def layer_of(span_name: str) -> str | None:
    """The engine-count layer a span's own jobs are charged to."""
    head, _, tail = span_name.partition(".")
    if head == "plans":
        return "streaming" if QUERY_FAMILY.get(tail) == "streaming" else "operators"
    return head if head in COUNT_LAYERS else None


def layer_metrics(
    tracer,
    n_passes: int,
    pass_s: list[float],
    ingest_rows: float = 0.0,
    bytes_files: list[tuple[int, int]] = (),
    exchanges: float = 0.0,
) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    rollup(spans)
    self_s: dict[str, float] = defaultdict(float)
    per_day: dict[str, list[float]] = defaultdict(list)
    counts: dict[str, float] = defaultdict(float)
    for s in spans:
        self_s[s["name"]] += s["self_s"] / n_passes
        if s["name"].startswith("incremental.") and s["name"] != "incremental.bootstrap":
            per_day[s["name"]].append(s["self_s"])
        layer = layer_of(s["name"])
        if layer:
            for c in COUNTS:
                counts[f"{layer}.{c}"] += s.get(c, 0) / n_passes

    m: dict[str, tuple[float, str]] = {}
    m["ingest.sample_s"] = (self_s["ingest.sample"], "s")
    m["ingest.clean_s"] = (self_s["ingest.clean"], "s")
    m["ingest.rows"] = (ingest_rows, "count")
    m["transform.plan_s"] = (self_s["transform.plan"], "s")
    for t in GOLD:
        m[f"transform.{t}_s"] = (self_s[f"transform.{t}"], "s")
    m["load.s"] = (self_s["load"], "s")
    m["incremental.bootstrap_s"] = (self_s["incremental.bootstrap"], "s")
    for step in INCREMENTAL_STEPS:
        days = per_day[f"incremental.{step}"]
        m[f"incremental.{step}_s"] = (statistics.median(days) if days else 0.0, "s")
    nb = [b for b, _ in bytes_files]
    nf = [f for _, f in bytes_files]
    m["sources.bytes_written"] = (statistics.mean(nb) if nb else 0.0, "bytes")
    m["sources.files_written"] = (statistics.mean(nf) if nf else 0.0, "count")
    family_s: dict[str, float] = defaultdict(float)
    for q, fam in QUERY_FAMILY.items():
        family_s[fam] += self_s[f"plans.{q}"]
    for fam in FAMILIES:
        m[f"operators.{fam}_s"] = (family_s[fam], "s")
    m["streaming.exec_s"] = (family_s["streaming"], "s")
    for q in QUERY_FAMILY:
        m[f"plans.{q}_s"] = (self_s[f"plans.{q}"], "s")
    m["plans.exchanges"] = (exchanges, "count")
    for layer in COUNT_LAYERS:
        for c in COUNTS:
            m[f"{layer}.{c}"] = (counts[f"{layer}.{c}"], "count")
    m["trace.batch_s"] = (statistics.median(pass_s), "s")
    m["trace.overhead_s"] = (tracer.overhead_s / n_passes, "s")
    return m


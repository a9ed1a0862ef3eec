"""Plan audit: prints a one-line physical-plan summary per registered
query (exchanges, join strategies, pushdown, scan width) so plan
regressions are visible at a glance.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
       python tools/explain_audit.py --check [sf_dir] [query ...]

--check mode is the plan-regression RATCHET (r9): it re-explains the
queries and compares exchange counts against the committed
docs/PLAN_AUDIT.md — any query whose exchange count GREW versus the
audit is reported and the exit code is non-zero. Run it per round
after plan-affecting work; regenerate the audit (and read the diff)
to bless intentional changes. Counts lower than the audit pass (an
improvement simply becomes the new baseline at regeneration).
"""

from __future__ import annotations

import re
import sys

from defimap_data_pipelines_spark.session import get_spark
from defimap_data_pipelines_spark.plans.queries import QUERIES


def outer_plan(plan: str) -> str:
    """The query's own final plan, cut from an executed-plan string.

    Drops the trailing AQE "Initial Plan" section, which would
    double-count exchanges/joins, and each ``InMemoryRelation``'s
    subtree: the plan its cached frame was built with, whose printed
    form depends on what ran earlier in the session (one query read 3
    exchanges alone and 2 after others). Nested AQE plans print their
    headers at columns left of the relation, so a subtree is bounded by
    its tree connectors instead: it ends at the next line that carries
    the relation's ancestor connectors up to its last pending sibling
    (``:``) and starts that sibling there.
    """
    kept, end = [], None
    for line in plan.splitlines():
        if end is not None:
            p, head = end
            if line[:p] != head or line[p:p + 2] not in (":-", "+-"):
                continue
            end = None
        if "InMemoryRelation" in line:
            pre = line[: line.index("InMemoryRelation")]
            p = max(pre.rfind(":"), 0)
            end = (p, pre[:p])
        kept.append(line)
    return "\n".join(kept).split("== Initial Plan ==")[0]


def summary_line(name: str, plan: str) -> str:
    plan = outer_plan(plan)
    # match within one line only: Spark truncates long plan lines, which
    # can swallow the closing '>' and make a greedy match overrun
    scans = re.findall(r"ReadSchema: struct<([^\n>]*)", plan)
    widths = ",".join(str(len(s.split(","))) for s in scans) or "-"
    codegen_ids = set(re.findall(r"\*\((\d+)\)", plan))
    return (
        f"{name:28s} exchanges={plan.count('Exchange'):2d} "
        f"bhj={plan.count('BroadcastHashJoin')} "
        f"smj={plan.count('SortMergeJoin')} "
        f"codegen={len(codegen_ids)} "
        f"scan_widths={widths}"
    )


def summarize(name: str, spark, sf_dir: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    # execute first: AQE's pre-execution plan string has no codegen
    # spans and no final shuffle decisions (isFinalPlan=false)
    df.collect()
    return summary_line(name, df._jdf.queryExecution().executedPlan().toString())


def committed_exchange_counts() -> dict[str, int]:
    """Parse docs/PLAN_AUDIT.md into {query: exchanges}."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLAN_AUDIT.md",
    )
    out: dict[str, int] = {}
    for line in open(path):
        m = re.match(r"(\w+)\s+exchanges=\s*(\d+)\b", line)
        if m:
            out[m.group(1)] = int(m.group(2))
    return out


def main() -> int:
    argv = sys.argv[1:]
    check = "--check" in argv
    if check:
        argv.remove("--check")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:] or list(QUERIES)
    spark = get_spark("explain-audit")
    baseline = committed_exchange_counts() if check else {}
    grew: list[str] = []
    for n in names:
        try:
            line = summarize(n, spark, sf_dir)
            if check:
                m = re.search(r"exchanges=\s*(\d+)", line)
                now = int(m.group(1))
                ref = baseline.get(n)
                if ref is None:
                    grew.append(f"{n}: not in committed audit (regenerate)")
                    line += "  <-- NEW"
                elif now > ref:
                    grew.append(f"{n}: exchanges {ref} -> {now}")
                    line += f"  <-- GREW (audit: {ref})"
            print(line)
        except Exception as e:  # noqa: BLE001
            print(f"{n:28s} ERROR {str(e)[:80]}")
            if check:
                grew.append(f"{n}: ERROR {str(e)[:60]}")
    if check:
        if grew:
            print(f"\nPLAN REGRESSIONS ({len(grew)}):")
            for g in grew:
                print("  " + g)
            return 1
        print(f"\nplan check OK: no exchange growth vs committed audit "
              f"({len(names)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Scale-stress harness: replicate the sf0.1 tables K× with DISJOINT
key spaces, then time real registry queries at each multiplier —
scaling curves answering "does this plan hold when the data grows
past the tested SF?" (the 100 TB question the per-SF bench can't).

Replication semantics (copy i of K):
  - integer keys shift by i*STRIDE so copies never join across
    (referential integrity preserved within a copy);
  - region/nation stay single (dimensions don't grow with volume);
  - event/order timestamps are unchanged, so per-day and per-key
    densities grow K× — the realistic direction (more traffic on the
    same calendar), which stresses windows and skew paths harder than
    stretching the timeline would;
  - document tokens get a per-copy suffix (every shingle distinct
    across copies → cross-copy similarity is exactly zero), so dedup
    families scale in CORPUS size with constant dup density. The
    opposite worst case — K identical copies, dup clusters growing
    K× — is a different experiment; run it by passing --keep-text.

Usage:
  python tools/stress.py generate 4 [--keep-text]
  python tools/stress.py run 4 q1_pricing_summary,minhash_lsh_dedup
  (multiplier 1 runs straight off $SPARK_GRAFT_SF_DIR)

Output: one JSON line per (query, mult) plus a final summary line, so
a truncated capture still holds every completed measurement.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from defimap_data_pipelines_spark.session import get_spark  # noqa: E402

BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STRESS_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".stress"
)
STRIDE = 1_000_000_000  # far above every sf0.1 key range

#: table -> integer key columns shifted per copy
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIM_TABLES = ["region", "nation"]

#: the stress set: one representative per scale-critical family
DEFAULT_QUERIES = [
    "q1_pricing_summary",     # scan + agg baseline
    "q9_product_profit",      # multi-join TPC-H heavy
    "q18_large_orders",       # IN-subquery over grouped fact
    "exact_quantiles",        # distributed bucket-refinement
    "roc_auc",                # global value-block substrate
    "sessionize",             # per-key ordered windows
    "minhash_lsh_dedup",      # banded LSH near-dup
    "simhash_pairs",          # pigeonhole Hamming blocks
    "containment_dups",       # shingle inverted index
    "ngram_jaccard_pairs",    # shingle inverted index (Jaccard)
    "lsh_topk",               # hyperplane-LSH ANN
    "training_dataset",       # end-to-end curation
    "salted_join_agg",        # skew-salted join path
    "pagerank_top20",         # iterative BSP
    "kcore_rounds",           # iterative BSP (peeling)
]


def _mult_dir(mult: int, keep_text: bool) -> str:
    tag = f"m{mult}" + ("_dup" if keep_text else "")
    return os.path.join(STRESS_ROOT, tag)


#: bumped whenever the replication recipe changes; replicas generated
#: under an older recipe regenerate instead of being reused
RECIPE = "v2-disjoint-emb"


def _sign_mask(copy: int, dims: int) -> list[float]:
    """Deterministic per-copy ±1 mask (md5 parity of "copy|dim").

    Sign-flipping dimensions is an ORTHOGONAL transform: every
    within-copy cosine/distance is exactly preserved (same dup
    density, same cluster geometry per copy), while cross-copy
    cosines of formerly identical vectors drop to ~N(0, 1/sqrt(dims))
    — the embedding analogue of the \\x01 text suffix. Caveat: at 64
    dims the cross-copy tail beyond |cos| = 0.35 is ~0.3%, so
    low-threshold operators (semdedup tau) may see a handful of
    spurious cross-copy pairs; the >=0.9 thresholds see none."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{copy}|{d}".encode()).hexdigest(), 16) & 1
        else -1.0
        for d in range(dims)
    ]


def _replicate(
    spark: SparkSession, table: str, mult: int, keep_text: bool
) -> DataFrame:
    base = spark.read.parquet(os.path.join(BASE_DIR, f"{table}.parquet"))
    if table in DIM_TABLES:
        return base
    # lazily computed only when a sign mask is actually applied
    # (table == embeddings, mult > 1, not keep_text); guarded so an
    # empty embeddings table fails with a clear message instead of a
    # TypeError on first()[0]
    emb_dims = 0
    if table == "embeddings" and mult > 1 and not keep_text:
        row = base.select("embedding").first()
        if row is None:
            raise ValueError(
                "embeddings table is empty — cannot derive mask dims"
            )
        emb_dims = len(row[0])
    copies = []
    for i in range(mult):
        df = base
        for k in KEY_COLS[table]:
            df = df.withColumn(k, (F.col(k) + F.lit(i * STRIDE)).cast("long"))
        if table == "embeddings" and i > 0 and not keep_text:
            # decorrelate copies (constant dup density, like the text
            # suffix); float->double, x*±1, ->float are all exact
            m = F.array(*[F.lit(s) for s in _sign_mask(i, emb_dims)])
            df = df.withColumn(
                "embedding",
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    m,
                    lambda x, s: x * s,
                ).cast("array<float>"),
            )
        if table == "documents" and i > 0 and not keep_text:
            # Copy-i tokens get a "\x01{i}" suffix. \x01 cannot appear
            # in the generated corpus (asserted in generate()), so no
            # base token can equal another token + suffix — cross-copy
            # shingle disjointness holds for ANY base vocabulary, not
            # just the current one (r9 ADVICE: a plain "x{i}" suffix
            # breaks if 'aa' and 'aax1' ever coexist as tokens).
            df = df.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda t: F.concat(t, F.lit(f"\x01{i}")),
                    ),
                    " ",
                ),
            ).withColumn("n_chars", F.length("text").cast("long"))
        copies.append(df)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def generate(mult: int, keep_text: bool = False) -> str:
    out_dir = _mult_dir(mult, keep_text)
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            stamped = f.read().strip()
        if stamped == RECIPE:
            print(
                json.dumps({"generate": out_dir, "cached": True}),
                flush=True,
            )
            return out_dir
        # older-recipe replica: regenerate under the current recipe
        shutil.rmtree(out_dir)
    spark = get_spark("stress-gen")
    # testdata stores timestamps as INT64 micros; the streaming exec
    # queries read that physical type via an explicit schema, so the
    # replicas must match it (Spark's default is INT96)
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    # precondition for the \x01 copy-suffix disjointness argument
    assert (
        spark.read.parquet(os.path.join(BASE_DIR, "documents.parquet"))
        .filter(F.col("text").contains("\x01"))
        .limit(1)
        .count()
        == 0
    ), "base corpus contains \\x01 — the copy-suffix separator"
    for table in list(KEY_COLS) + DIM_TABLES:
        # single FILE per table (the testdata layout — the streaming
        # exec queries copy the file to a watch dir), via a one-file
        # spark write + rename
        tmp = os.path.join(out_dir, f"_tmp_{table}")
        _replicate(spark, table, mult, keep_text).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.replace(
            os.path.join(tmp, part),
            os.path.join(out_dir, f"{table}.parquet"),
        )
        shutil.rmtree(tmp)
    with open(marker, "w") as f:
        f.write(RECIPE + "\n")
    print(json.dumps({"generate": out_dir, "cached": False}), flush=True)
    return out_dir


def run(mult: int, names: list[str], keep_text: bool = False) -> None:
    from defimap_data_pipelines_spark.plans.queries import QUERIES

    sf_dir = BASE_DIR if mult == 1 else _mult_dir(mult, keep_text)
    if mult != 1:
        # generate() is a cheap no-op when the replica exists AND its
        # marker stamps the CURRENT recipe; checking only the marker's
        # existence here would silently reuse an older-recipe replica
        generate(mult, keep_text)
    spark = get_spark("stress-run")
    # r9 ADVICE guards: at least one timed run (best=inf would emit
    # non-JSON 'Infinity'), no empty/unknown names reaching QUERIES[...]
    runs = max(1, int(os.environ.get("STRESS_RUNS", "2")))
    unknown = [n for n in names if n not in QUERIES]
    if not names or unknown:
        raise ValueError(f"empty or unknown query names: {unknown}")
    timings: dict[str, float] = {}
    for n in names:
        best = float("inf")
        rows = -1
        # per-query untimed warmup (r9 ADVICE: warming only names[0]
        # left every other family's first timed run paying JIT/IO)
        QUERIES[n](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        for _ in range(runs):
            t0 = time.perf_counter()
            df = QUERIES[n](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        rows = QUERIES[n](spark, sf_dir).count()
        timings[n] = round(best, 3)
        print(
            json.dumps({"query": n, "mult": mult, "sec": timings[n],
                        "rows": rows}),
            flush=True,
        )
        spark.sparkContext._jvm.System.gc()
    print(
        json.dumps(
            {
                "metric": "stress_total",
                "mult": mult,
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
            }
        ),
        flush=True,
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    keep_text = "--keep-text" in sys.argv
    cmd = args[0] if args else "run"
    mult = int(args[1]) if len(args) > 1 else 4
    if cmd == "generate":
        generate(mult, keep_text)
        return
    names = args[2].split(",") if len(args) > 2 else DEFAULT_QUERIES
    run(mult, names, keep_text)


if __name__ == "__main__":
    main()

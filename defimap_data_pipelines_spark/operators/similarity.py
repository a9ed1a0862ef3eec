"""Embedding similarity search (engine extension: LLM-data pipeline).

- cosine_topk: brute-force top-k — the correctness baseline. Query side
  is broadcast; corpus scan stays partitioned, so the plan is a single
  pass over the corpus at any scale (no shuffle until the per-query
  top-k, which is a window over k*|queries| rows after local pruning).
- block_pairs: the exact all-pairs scaffold — ids hash into 8 blocks,
  one applyInPandas task per unordered block pair scores its pairs as
  numpy matrices. cosine_pairs and dedup.dense_jaccard_pairs pass only
  a payload-to-matrix function and a pair score.
- cosine_pairs: all-pairs above a threshold (exact; quadratic — only
  for modest corpora or verification), scored with fold_dots and
  fold_norms, the bit-exact per-dimension fp64 folds.
- lsh_topk: the scale path — random-hyperplane LSH buckets candidates,
  exact cosine re-ranks within buckets. Hyperplanes are derived
  deterministically from md5 driver-side and inlined as literals, so
  no RNG state is shipped and the oracle replays the same planes.
- ivf_topk: inverted centroid lists with n_probe probing; the codebook
  (default or trained) is collected once and assignment is a pure
  projection.
- semdedup_prune: SemDeDup — k-means-confined near-dup pruning.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.functions.vector import (
    cosine_from_norms,
    l2_norm,
)
from defimap_data_pipelines_spark.operators.cachereg import pin


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k corpus rows per query by cosine (excluding self-matches).

    Returns (query_id, vec_id, cosine) with deterministic ordering
    (ties broken by vec_id).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    sim = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_from_norms(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        sim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


_BLOCKS = 8


def fold_norms(m: np.ndarray) -> np.ndarray:
    """Row L2 norms of the float64 matrix ``m``.

    The squares accumulate one DIMENSION at a time, the left-to-right
    fp64 addition order of the engines' aggregate fold, so every norm
    is bit-identical to ``l2_norm`` over the same array."""
    acc = np.zeros(m.shape[0])
    for d in range(m.shape[1]):
        acc += m[:, d] * m[:, d]
    return np.sqrt(acc)


def fold_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """The (rows of ``a``) x (rows of ``b``) matrix of row dot
    products of two float64 matrices.

    Accumulated one DIMENSION at a time (acc += outer(a[:, d],
    b[:, d])): the same left-to-right fp64 addition order as the
    engines' aggregate fold, so every entry is bit-identical to the
    per-pair SQL ``dot``. A BLAS matmul sums in blocked order and
    differs in the last bits."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        acc += np.multiply.outer(a[:, d], b[:, d])
    return acc


def block_pairs(
    frame: DataFrame,
    id_col: str,
    payload: Column,
    mat,
    score,
    threshold: float,
    out: tuple[str, str, str],
) -> DataFrame:
    """Exact all-pairs scoring: one row (a, b, score), named by ``out``,
    for every id pair a < b of ``frame`` with score >= threshold.

    Rows hash into 8 blocks on id, and every unordered block pair is
    one applyInPandas task. A task stacks each side's ``payload``
    values, ordered by id, into a matrix with ``mat`` and scores its
    row pairs with ``score(L, R, ii, jj)``: a float64 array over the
    pairs (L[ii], R[jj]), NaN where undefined (NaN is never kept).
    ``score`` must be symmetric, as each pair is emitted as (min id,
    max id) whichever side it came from. A pair belongs to exactly one
    block pair, so output pairs are unique by construction. Each row
    ships to B + 1 task sides (B = 8 blocks), an O(B * rows) shuffle;
    the tasks are independent and numpy-bound."""
    ida, idb, name = out
    v = frame.select(
        F.col(id_col).alias("_id"), payload.alias("_p")
    ).withColumn("blk", F.pmod(F.col("_id"), F.lit(_BLOCKS)))
    tasks = frame.sparkSession.createDataFrame(
        [(i, j) for i in range(_BLOCKS) for j in range(i, _BLOCKS)],
        "ba long, bb long",
    )
    left, right = (
        tasks.join(v, v["blk"] == tasks[b]).select(
            "ba", "bb", "_id", "_p", F.lit(s).alias("side")
        )
        for s, b in enumerate(("ba", "bb"))
    )
    t = float(threshold)
    empty = pd.DataFrame(
        {
            ida: pd.Series(dtype="int64"),
            idb: pd.Series(dtype="int64"),
            name: pd.Series(dtype="float64"),
        }
    )

    def side(pdf: pd.DataFrame, s: int):
        part = pdf[pdf["side"] == s]
        ids = part["_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        return ids[order], mat(part["_p"].to_numpy()[order])

    def _kern(key, pdf):
        ba, bb = key
        # a cross-block task can arrive one-sided when the other
        # block holds no rows (tiny inputs) — no pairs to emit
        if (pdf["side"] == 0).sum() == 0 or (pdf["side"] == 1).sum() == 0:
            return empty
        ids_l, ml = side(pdf, 0)
        if ba == bb:
            ids_r, mr = ids_l, ml
            ii, jj = np.triu_indices(len(ids_l), k=1)
        else:
            ids_r, mr = side(pdf, 1)
            ii, jj = np.meshgrid(
                np.arange(len(ids_l)), np.arange(len(ids_r)), indexing="ij"
            )
            ii, jj = ii.ravel(), jj.ravel()
        il, ir = ids_l[ii], ids_r[jj]
        with np.errstate(divide="ignore", invalid="ignore"):
            s = score(ml, mr, ii, jj)
        keep = s >= t
        return pd.DataFrame(
            {
                ida: np.minimum(il, ir)[keep],
                idb: np.maximum(il, ir)[keep],
                name: s[keep],
            }
        )

    return left.unionAll(right).groupBy("ba", "bb").applyInPandas(
        _kern, f"{ida} long, {idb} long, {name} double"
    )


def cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs (id_a < id_b, cosine >= threshold).

    Deliberately exhaustive — the verifier / low-threshold sweep the
    LSH path (cosine_pairs_lsh) cannot serve. Physical form: the
    ``block_pairs`` scaffold over float64 sub-matrices, with dots and
    norms from ``fold_dots``/``fold_norms``, so every cosine is
    bit-identical to the per-pair SQL expression (dot / (sqrt(dot_aa)
    * sqrt(dot_bb)), zero norms dropped like try_divide's NULL). The
    crossJoin formulation this replaces ran the fold per PAIR under a
    BroadcastNestedLoopJoin, which breaks whole-stage codegen — 18.4 s
    at sf0.1 vs ~2 s here; still O(n^2) work by design, now at
    vectorized-numpy cost/FLOP."""

    def mat(rows) -> np.ndarray:
        return np.stack([np.asarray(x, dtype=np.float64) for x in rows])

    def score(lm, rm, ii, jj):
        den = fold_norms(lm)[ii] * fold_norms(rm)[jj]
        return np.where(den > 0, fold_dots(lm, rm)[ii, jj] / den, np.nan)

    return block_pairs(
        vectors,
        id_col,
        F.col(vec_col).cast("array<double>"),
        mat,
        score,
        threshold,
        ("id_a", "id_b", "cosine"),
    )


def _auto_planes(n: int, target_bucket: int, floor: int = 10) -> int:
    """Planes so expected bucket occupancy n/2^planes ~ target_bucket,
    floored at ``floor`` (default 10 — never LESS selective than the
    fixed default on small corpora; lower it only when the corpus is
    small AND boundary recall matters more than candidate volume)."""
    return max(
        floor, math.ceil(math.log2(max(n, 1) / max(target_bucket, 1)))
    )


def cosine_pairs_lsh(
    vectors: DataFrame,
    threshold: float = 0.9,
    num_planes: int | str = 10,
    num_tables: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 64,
    min_planes: int = 10,
) -> DataFrame:
    """Near-duplicate pairs above ``threshold`` via OR-amplified
    hyperplane LSH candidates + exact cosine verification — the scale
    path that replaces the quadratic ``cosine_pairs`` (kept as the
    test-only verifier).

    Scale shape: one scan per side computes all table buckets (array
    explode), the only joins are equi-joins on (table, bucket) — no
    cartesian anywhere in the plan — and exact cosine runs only on
    bucket-colliding candidates (~|V|² · tables / 2^planes pairs
    instead of |V|²/2). Exact verify means NO false positives; recall
    is the LSH collision probability: a pair at cosine s collides in
    one table with p = (1 - acos(s)/π)^planes and survives OR over
    tables with 1-(1-p)^tables. At near-dup thresholds (s ≥ 0.98,
    where dedup actually operates) the default (10 planes, 6 tables)
    misses with probability < 1e-11 per pair; at loose thresholds
    (s ~ 0.4) hyperplane LSH fundamentally cannot filter — use
    ``cosine_pairs`` for exhaustive low-threshold sweeps.

    **Sizing at scale (the r11 stress finding):** with FIXED planes,
    expected bucket occupancy is |V|/2^planes, so candidates — and
    wall time — grow QUADRATICALLY in corpus size (measured 14.8×
    time for 4× data once the stress replicas stopped sharing
    identical vectors). Pass ``num_planes="auto"`` to size planes as
    max(10, ceil(log2(|V| / target_bucket))) — one count() job, then
    occupancy stays ~``target_bucket`` and candidate volume grows
    linearly. The trade: each +1 plane multiplies a boundary pair's
    per-table collision odds by (1 - acos(s)/π); at s≈1 twins this is
    harmless (20 planes, 6 tables: miss < 5e-10) but pairs NEAR the
    threshold lose recall — raise ``num_tables`` alongside when
    boundary recall matters. The registered queries keep explicit
    values so their oracle contracts (full recall of planted twins at
    the tested SF) stay exact.

    The plane-projection signatures are computed ONCE into a bounded
    cached frame shared by both join sides (r12; previously each side
    re-evaluated the full num_tables x num_planes fold subtree). Auto
    mode still adds one count() action over the uncached upstream
    lineage before the signature pass; the count projects only the id
    column, so a columnar input pays a single-column scan, not a
    full-width one.
    """
    if num_planes == "auto":
        num_planes = _auto_planes(
            vectors.select(id_col).count(), target_bucket, min_planes
        )
    if isinstance(num_planes, str):
        raise ValueError(
            f"num_planes must be an int or 'auto', got {num_planes!r}"
        )

    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket(vec_col, num_planes, dim, salt=t).alias(
                    "bucket"
                ),
            )
            for t in range(num_tables)
        ]
    )
    # ONE signature pass, shared by both join sides (r12 optimization,
    # guide §2.4/§5): the num_tables x num_planes plane-projection
    # folds are by far the heaviest expression in the plan, and the
    # self-join used to evaluate the whole subtree once per side (plus
    # once more for the upstream lineage when that is itself a union/
    # transform pipeline). Cache the compact un-exploded (id, vec,
    # norm, buckets) frame — |V| rows, ~dim+2 doubles + num_tables
    # structs per row — and explode per side from memory. Pinned in
    # the session's bounded store (an evicted still-lazy frame
    # silently recomputes).
    sigs = pin(
        vectors.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            l2_norm(F.col(vec_col)).alias("_n"),
            buckets.alias("_tb"),
        ).cache()
    )

    def bucketed(out_id: str) -> DataFrame:
        return sigs.select(
            F.col("_id").alias(out_id),
            F.col("_v").alias(f"_{out_id}_v"),
            F.col("_n").alias(f"_{out_id}_n"),
            F.explode("_tb").alias("tb"),
        ).select(out_id, f"_{out_id}_v", f"_{out_id}_n", "tb.table", "tb.bucket")

    a = bucketed("id_a")
    b = bucketed("id_b")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = cand.select(
        "id_a",
        "id_b",
        cosine_from_norms(
            F.col("_id_a_v"), F.col("_id_b_v"), F.col("_id_a_n"), F.col("_id_b_n")
        ).alias("cosine"),
    )
    return sim.filter(F.col("cosine") >= threshold)


def plane_weights(salt: int, plane_id: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane components, derived driver-side
    from md5 of (salt, plane, j) — no RNG state, reproducible across
    engines and Spark versions, and inlined as LITERALS into the plan
    (the previous formulation hashed per element per row inside the
    sign fold: planes x tables x dim = thousands of non-constant-
    foldable hash calls per row; literals cost zero at scan time and
    make the whole LSH path oracle-replayable)."""
    import hashlib

    out = []
    for j in range(dim):
        d = hashlib.md5(f"{salt}|{plane_id}|{j}".encode()).digest()
        out.append(1.0 if d[0] & 1 else -1.0)
    return out


def lsh_bucket(vec_col: str, num_planes: int, dim: int, salt: int = 0):
    """LSH bucket id: the num_planes-bit sign pattern of the vector
    column named ``vec_col``.

    Built as ONE parsed SQL string: the Column-API form (num_planes x
    dim lit() calls plus 2*num_planes lambda conversions PER TABLE)
    cost seconds of py4j round trips at the cosine_pairs_lsh call
    sites (6-8 tables each) — same measurement as the k-means /
    IVF codebooks. The parsed tree is identical: per plane, the sign
    of a zip_with/aggregate fold against the ±1 literal plane, packed
    big-endian into a long.
    """
    terms = []
    for p in range(num_planes):
        w = plane_weights(salt, p, dim)
        arr = "array(" + ",".join(
            "1.0D" if x > 0 else "-1.0D" for x in w
        ) + ")"
        dotp = (
            f"aggregate(zip_with(`{vec_col}`, {arr},"
            " (x, p) -> CAST(x AS DOUBLE) * p), 0.0D, (acc, w) -> acc + w)"
        )
        weight = 1 << (num_planes - 1 - p)
        terms.append(
            f"(CASE WHEN {dotp} >= 0 THEN {weight}L ELSE 0L END)"
        )
    return F.expr("(" + " + ".join(terms) + ")")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with OR-amplified LSH: ``num_tables``
    independent hash tables of ``num_planes`` hyperplanes each; a
    corpus row is a candidate if it collides with the query in ANY
    table; exact cosine re-ranks candidates. Recall/latency trade via
    (num_planes, num_tables). Recall is tested against cosine_topk.

    Scale shape: one scan computes all table buckets (array explode),
    the bucket join is the only shuffle, and candidates per query are
    ~|corpus| * num_tables / 2^num_planes.
    """

    def bucketed(df: DataFrame, idc: str, vc: str, out_id: str) -> DataFrame:
        buckets = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    lsh_bucket(vc, num_planes, dim, salt=t).alias("bucket"),
                )
                for t in range(num_tables)
            ]
        )
        return df.select(
            F.col(idc).alias(out_id),
            F.col(vc).alias(f"_{out_id}_v"),
            l2_norm(F.col(vc)).alias(f"_{out_id}_n"),
            F.explode(buckets).alias("tb"),
        ).select(out_id, f"_{out_id}_v", f"_{out_id}_n", "tb.table", "tb.bucket")

    c = bucketed(corpus, id_col, vec_col, "vec_id")
    q = bucketed(queries, id_col, vec_col, "query_id")
    cand = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", "_query_id_v", "_vec_id_v",
            "_query_id_n", "_vec_id_n",
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    sim = cand.select(
        "query_id",
        "vec_id",
        cosine_from_norms(
            F.col("_query_id_v"),
            F.col("_vec_id_v"),
            F.col("_query_id_n"),
            F.col("_vec_id_n"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        sim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    inverted lists, probe the n_probe nearest lists per query, exact
    cosine within the probed lists.

    ``centroids``: optional trained codebook as a (cluster, c) frame
    (operators/clustering.py::kmeans/update_centroids output). Default
    is the first ``num_centroids`` corpus vectors (a deterministic
    k-means|| stand-in). The codebook is K rows — it is collected once
    and inlined as array literals, so list assignment is a pure
    projection (no join, no window shuffle, and a trained-codebook
    subplan executes exactly once instead of once per downstream
    action). The only shuffle left is the per-query top-k window.
    """
    import math

    if centroids is not None:
        crows = sorted(
            (r["cluster"], [float(x) for x in r["c"]])
            for r in centroids.collect()
        )
    else:
        lim = corpus.select(id_col, vec_col).limit(num_centroids).collect()
        lim.sort(key=lambda r: r[0])
        crows = [
            (i + 1, [float(x) for x in r[1]]) for i, r in enumerate(lim)
        ]

    def _fold_norm(vec: list) -> float:
        # replicate the JVM left fold of dot(a, a) term-for-term so the
        # literal norm is bit-identical to l2_norm on the same array
        acc = 0.0
        for x in vec:
            acc += x * x
        return math.sqrt(acc)

    cnorms = {cid: _fold_norm(c) for cid, c in crows}

    from defimap_data_pipelines_spark.functions.vector import (
        sql_double_literal as _dlit,
    )

    def _list_entries(vcol: str, ncol: str):
        # array of (-cosine, centroid_id) structs: ascending struct
        # order == cosine desc with centroid_id tiebreak, matching the
        # ROW_NUMBER(ORDER BY cosine DESC, centroid_id) oracle replay.
        # The dots are zip_with/aggregate folds against constant-folded
        # literal arrays — bit-identical to functions/vector.dot. Two
        # deliberate choices, both measured at sf0.1:
        # - folds, NOT a flat K*dims multiply-add chain: the flat chain
        #   exceeds Janino's 64 KB method limit and knocks the whole
        #   stage out of codegen (ivf_topk 4.2 s -> 17 s); see
        #   functions/vector.py dot_literal for the record.
        # - built as ONE parsed SQL string, not nested F.* calls: the
        #   Column-API construction of K struct(fold(...)) trees costs
        #   ~1 s of py4j round trips per call site; one parse is ~3x
        #   cheaper and yields the identical expression tree.
        parts = []
        for cid, c in crows:
            arr = "array(" + ",".join(_dlit(x) for x in c) + ")"
            d = (
                f"aggregate(zip_with({vcol}, {arr}, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "0.0D, (acc, w) -> acc + w)"
            )
            # coalesce NULL negcos (zero-norm centroid or vector ->
            # try_divide NULL) to +inf so degenerate centroids sort LAST
            # in the ascending struct order — matching the previous
            # row_number(cosine DESC) behavior where NULL cosines lost
            parts.append(
                f"struct(coalesce(-try_divide({d}, "
                f"{ncol} * {_dlit(cnorms[cid])}), "
                f"CAST('Infinity' AS DOUBLE)) "
                f"AS negcos, {cid} AS centroid_id)"
            )
        return F.expr("array(" + ",".join(parts) + ")")

    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_vec_id_v"),
        l2_norm(F.col(vec_col)).alias("_vec_id_n"),
    )
    c = c.withColumn(  # each corpus vec -> its single nearest list
        "centroid_id",
        F.array_min(_list_entries("_vec_id_v", "_vec_id_n"))["centroid_id"],
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_query_id_v"),
        l2_norm(F.col(vec_col)).alias("_query_id_n"),
    )
    q = q.select(  # each query probes its n_probe nearest lists
        "query_id",
        "_query_id_v",
        "_query_id_n",
        F.explode(
            F.slice(
                F.array_sort(_list_entries("_query_id_v", "_query_id_n")),
                1,
                n_probe,
            )["centroid_id"]
        ).alias("centroid_id"),
    )
    # corpus vectors live in exactly one list, so (query_id, vec_id)
    # candidate pairs are already unique — no dedup shuffle needed
    # (unlike lsh_topk, where multi-table buckets duplicate pairs)
    sim = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_from_norms(
                F.col("_query_id_v"),
                F.col("_vec_id_v"),
                F.col("_query_id_n"),
                F.col("_vec_id_n"),
            ).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        sim.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_topk_pandas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched twin of ``cosine_topk``: similarities computed in a
    vectorized ``@pandas_udf`` (one numpy matmul per Arrow batch against
    the broadcast query matrix) instead of per-row JVM expressions.

    The JVM path is the default — it stays inside whole-stage codegen
    and needs no Python workers. This path exists because (a) it is the
    documented escape hatch when the per-element expression would not
    vectorize (learned metrics, quantized dot products), and (b) it
    demonstrates the engine's scalar-pandas_udf surface (SURVEY.md
    §2.8). At 100 TB both plans are a single partitioned corpus pass;
    this one adds Arrow transfer of the vector column, amortized across
    the batch.

    Differential-tested against ``cosine_topk`` in
    tests/test_dedup_similarity.py (identical ids; cosines to 1e-9 —
    numpy reduces in a different order than the JVM fold).
    """
    from pyspark.sql.functions import pandas_udf

    qrows = queries.select(id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    @pandas_udf("array<double>")
    def sims_to_queries(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ qnorm.T  # (batch, n_queries)
        return pd.Series(list(sims))

    qid_arr = F.array(*[F.lit(q) for q in qids])
    exploded = (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
        .select("vec_id", sims_to_queries("_v").alias("_sims"))
        .select(
            "vec_id",
            F.explode(F.arrays_zip(qid_arr.alias("query_id"), F.col("_sims").alias("cosine"))).alias("z"),
        )
        .select(F.col("z.query_id").alias("query_id"), "vec_id", F.col("z.cosine").alias("cosine"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def semdedup_prune(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    max_cluster: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with k-means, then
    find near-duplicate pairs ONLY within each cluster and prune the
    higher-id member of every pair.

    Returns the PRUNED rows: (vec_id, cluster, dup_of, cosine) where
    dup_of is the smallest-id same-cluster neighbor with
    round(cosine, 9) >= tau — the deterministic keep-lowest-id rule
    (the paper keeps the member farthest from the centroid; the id
    rule is the reproducible variant, same dedup power).

    Scale shape: this is the whole point of SemDeDup — the quadratic
    pair search is confined to clusters, so with k chosen ~ O(n/1e5)
    the per-cluster work is bounded and the plan is one shuffle on
    cluster id + one groupBy, never an all-pairs crossJoin over the
    corpus. Assignment itself is a broadcast-literal projection
    (operators/clustering.py). The pair search is one gram kernel per
    group: an applyInPandas task computes every in-group cosine with
    ``fold_dots``/``fold_norms``, bit-identical to ``cosine_from_norms``.

    **``max_cluster`` is a per-cluster size cap (the r11 stress
    finding's twin):** with a FIXED k, cluster occupancy is ~n/k, so
    intra-cluster pairs — and wall time — grow QUADRATICALLY in
    corpus size (measured 137–166 s at 16× in docs/STRESS_r11.jsonl).
    Clusters over the cap M are subdivided by a deterministic
    hyperplane signature on the embedding (the same md5-derived ±1
    planes as ``lsh_bucket``), using ceil(log2(size/M)) low bits per
    oversized cluster, and the pair search runs within (cluster,
    sub-bucket) — pair volume grows linearly past M. The trade
    mirrors ``num_planes="auto"``: a pair at cosine s lands in the
    same sub-bucket with probability (1 - acos(s)/π)^planes, so
    near-twins (s ≥ 0.95, where semantic dedup prunes) are kept with
    per-plane odds > 0.9, but pairs near a LOOSE tau (~0.35) lose
    recall across sub-bucket boundaries — the cap is a scale knob for
    near-dup taus, not for exhaustive low-threshold sweeps. Clusters
    at or under M are untouched, so when no cluster exceeds M the
    output is IDENTICAL to the uncapped form. ``max_cluster=None``
    splits no cluster.
    """
    from defimap_data_pipelines_spark.operators.clustering import kmeans_fit

    if assigned is None:
        # ``assigned``: optional precomputed (vec_id, e, cluster) fit
        # (kmeans_fit keep_vec=True output) so one clustering serves
        # every consumer — the k-means twin of the pair-frame cache
        assigned = kmeans_fit(emb, k=k, iters=iters, id_col=id_col,
                              vec_col=vec_col, keep_vec=True)
    staged = assigned.select("cluster", "vec_id", "e")
    pair_keys = ["cluster"]
    if max_cluster is not None:
        # occupancy pinning: clusters over the cap get a deterministic
        # hyperplane sub-signature — ceil(log2(size/cap)) low bits of a
        # 16-plane lsh_bucket — so per-(cluster, sub) pair volume
        # stays ~cap² instead of growing quadratically with the corpus.
        # Clusters at/under the cap keep sub = 0 (exact, untouched).
        wide_planes = 16
        sizes = staged.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("_csz")
        )
        staged = (
            staged.join(F.broadcast(sizes), "cluster")
            .withColumn(
                "_p",
                F.when(
                    F.col("_csz") > max_cluster,
                    F.least(
                        F.ceil(
                            F.log2(F.col("_csz") / F.lit(max_cluster))
                        ),
                        F.lit(wide_planes),
                    ),
                )
                .otherwise(F.lit(0))
                .cast("int"),
            )
            .withColumn(
                # CASE short-circuits per row: members of at/under-cap
                # clusters never pay the 16-plane fold
                "_wb",
                F.when(
                    F.col("_p") > 0,
                    lsh_bucket("e", wide_planes, dim, salt=0),
                ).otherwise(F.lit(0)),
            )
            .withColumn(
                "sub", F.expr("_wb & (shiftleft(1L, _p) - 1)")
            )
            .drop("_wb", "_p", "_csz")
        )
        pair_keys = ["cluster", "sub"]
    # One gram matrix per (cluster[, sub]) group computes every
    # pairwise dot as a fused multiply-add (r13; an interpreted
    # zip_with/aggregate fold per candidate pair cost ~7 us/pair). A
    # pathological oversized group streams in 4096-row tiles (O(n^2)
    # work either way; memory is linear in the group size: the
    # n x dim matrix plus a 4096 x n block). The kernel pre-filters
    # with a 1e-7 GUARD BAND only — the exact round(cosine, 9) >= tau
    # gate is applied Spark-side, the same expression as the oracle's.
    # Zero-norm vectors: 0/0 -> nan, nan >= guard is False — the same
    # drop as try_divide's NULL.
    guard = float(tau) - 1e-7
    tile = 4096

    def _gram_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.asarray(pdf["e"].tolist(), dtype=np.float64)
        norms = fold_norms(m)
        parts = []
        for i0 in range(0, len(ids), tile):
            with np.errstate(divide="ignore", invalid="ignore"):
                c = fold_dots(m[i0 : i0 + tile], m) / np.outer(
                    norms[i0 : i0 + tile], norms
                )
            ii, jj = np.nonzero(c >= guard)  # nan -> False
            up = i0 + ii < jj
            ii, jj = ii[up], jj[up]
            parts.append((ids[i0 + ii], ids[jj], c[ii, jj]))
        a_id, b_id, cos = (np.concatenate(x) for x in zip(*parts))
        # output ids keep the input columns' dtypes (int32 in, int32 out)
        clu = pdf["cluster"].to_numpy()[:1].repeat(len(a_id))
        return pd.DataFrame(
            {"cluster": clu, "a_id": a_id, "b_id": b_id, "cosine": cos}
        )

    ctype = staged.schema["cluster"].dataType.simpleString()
    vtype = staged.schema["vec_id"].dataType.simpleString()
    cand = (
        staged.select(*pair_keys, "vec_id", "e")
        .groupBy(*pair_keys)
        .applyInPandas(
            _gram_pairs,
            f"cluster {ctype}, a_id {vtype}, b_id {vtype}, cosine double",
        )
        .filter(F.round(F.col("cosine"), 9) >= tau)
    )
    best = cand.groupBy("b_id", "cluster").agg(
        F.min(F.struct("a_id", "cosine")).alias("_m")
    )
    return best.select(
        F.col("b_id").alias("vec_id"),
        "cluster",
        F.col("_m.a_id").alias("dup_of"),
        F.round(F.col("_m.cosine"), 6).alias("cosine"),
    )


def group_centroid_similarity(
    emb: DataFrame,
    group_col: str,
    vec_col: str,
    quantum: int = 1_000_000,
) -> DataFrame:
    """Pairwise cosine similarity between per-group embedding
    centroids — the corpus-analysis view ("how close are sources /
    labels in embedding space") that decides mixture weights and
    dedup scopes between slices. Returns (g_a, g_b, n_a, n_b,
    cosine) for g_a < g_b.

    Exactness: components quantize to a 1e-6 grid at the scan, per
    (group, dim) sums are int64 (order-independent), centroids are
    truncated integer means (sum div n), and dot/norms over the
    O(groups x dims) centroid frame are exact int64 (headroom:
    64 dims x (1e6)^2 = 6.4e13). The only floats are the final
    cosine divisions. Shuffle: one (group, dim) aggregation over the
    exploded scan; everything after is vocabulary-sized."""
    dims = emb.select(
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "pos", "x"
        ),
    )
    cent = (
        dims.groupBy("g", "pos")
        .agg(
            F.expr(
                f"CAST(sum(CAST(ROUND(x * {quantum}) AS BIGINT))"
                " AS BIGINT) div count(1)"
            ).alias("cq"),
            # per-(g, pos) row count == the group's row count (every
            # row contributes one component per dim) — rides the same
            # aggregate, no extra scan
            F.count(F.lit(1)).cast("long").alias("_cnt"),
        )
        # consumed by norms AND both pair sides; pinned in the
        # session's bounded store (an evicted still-lazy result
        # silently recomputes)
        .cache()
    )
    pin(cent)
    norms = cent.groupBy("g").agg(
        F.sum(F.col("cq") * F.col("cq")).alias("nrm"),
        F.max("_cnt").alias("_gn"),
    )
    a = cent.select(
        F.col("g").alias("g_a"), "pos", F.col("cq").alias("ca")
    )
    b = cent.select(
        F.col("g").alias("g_b"), "pos", F.col("cq").alias("cb")
    )
    dot = (
        a.join(b, "pos")
        .filter(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(
        F.col("g").alias("g_a"),
        F.col("nrm").alias("_na"),
        F.col("_gn").alias("n_a"),
    )
    nb = norms.select(
        F.col("g").alias("g_b"),
        F.col("nrm").alias("_nb"),
        F.col("_gn").alias("n_b"),
    )
    cos = (
        "(CAST(dot AS DOUBLE)"
        " / sqrt(CAST(CASE WHEN _na > 0 THEN _na END AS DOUBLE))"
        " / sqrt(CAST(CASE WHEN _nb > 0 THEN _nb END AS DOUBLE)))"
    )
    return (
        dot.join(na, "g_a")
        .join(nb, "g_b")
        .select(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            F.round(F.expr(cos), 9).alias("cosine"),
        )
    )

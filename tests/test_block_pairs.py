"""The block_pairs all-pairs scaffold, through both operators built on
it (cosine_pairs, dense_jaccard_pairs), against a brute-force double
loop: ids that fill only 3 of the 8 blocks, one row, an empty frame
and one degenerate row (a zero vector, an empty shingle set) must give
the same pairs and bit-identical scores."""

from __future__ import annotations

import math
import random

import pytest

from defimap_data_pipelines_spark.operators.cachereg import release
from defimap_data_pipelines_spark.operators.dedup import dense_jaccard_pairs
from defimap_data_pipelines_spark.operators.similarity import cosine_pairs

# blocks are id mod 8: these fill blocks 0, 1 and 2 only, so every
# task pairing one of them with blocks 3-7 arrives one-sided
THREE_BLOCKS = [0, 1, 2, 8, 9, 10, 16, 17, 18]
CASES = {
    "three_blocks": (THREE_BLOCKS, None),
    "one_row": ([5], None),
    "empty": ([], None),
    "degenerate_row": (THREE_BLOCKS, 9),
}


def _cosine(x, y):
    # the fold order of fold_dots/fold_norms: one dimension at a time
    dot = nx = ny = 0.0
    for p, q in zip(x, y):
        dot += p * q
    for p in x:
        nx += p * p
    for q in y:
        ny += q * q
    den = math.sqrt(nx) * math.sqrt(ny)
    return dot / den if den > 0 else None


def _jaccard(x, y):
    ni = len(x & y)
    union = len(x) + len(y) - ni
    return ni / float(union) if union else None


def _brute(payload, score, threshold):
    out = set()
    for a in payload:
        for b in payload:
            if a < b:
                s = score(payload[a], payload[b])
                if s is not None and s >= threshold:
                    out.add((a, b, s))
    return out


def _check(df, want):
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(set(got))  # each pair once
    assert set(got) == want


@pytest.mark.parametrize("case", sorted(CASES))
def test_cosine_pairs_match_double_loop(spark, case):
    ids, degenerate = CASES[case]
    rng = random.Random(17)
    payload = {
        i: [0.0] * 4 if i == degenerate
        else [rng.uniform(-1, 1) for _ in range(4)]
        for i in ids
    }
    v = spark.createDataFrame(
        list(payload.items()), "vec_id long, embedding array<double>"
    )
    want = _brute(payload, _cosine, 0.0)
    if case == "three_blocks":
        # non-vacuous: in-block and cross-block pairs are both kept
        assert {a % 8 == b % 8 for a, b, _ in want} == {True, False}
    _check(cosine_pairs(v, threshold=0.0), want)


def _shingles(ids, degenerate):
    rng = random.Random(23)
    return {
        i: set() if i == degenerate
        else set(rng.sample(range(100, 112), 5))
        for i in ids
    }


@pytest.mark.parametrize("case", sorted(CASES))
def test_dense_jaccard_pairs_match_double_loop(spark, case):
    ids, degenerate = CASES[case]
    payload = _shingles(ids, degenerate)
    hashed = spark.createDataFrame(
        [(i, sorted(s)) for i, s in payload.items()],
        "doc_id long, _hh array<long>",
    )
    want = _brute(payload, _jaccard, 0.3)
    if case == "three_blocks":
        # non-vacuous: in-block and cross-block pairs are both kept
        assert {a % 8 == b % 8 for a, b, _ in want} == {True, False}
    _check(dense_jaccard_pairs(hashed, 0.3), want)


def test_release_drains_dense_jaccard_pin(spark):
    payload = _shingles(THREE_BLOCKS, None)
    hashed = spark.createDataFrame(
        [(i, sorted(s)) for i, s in payload.items()],
        "doc_id long, _hh array<long>",
    )
    release(spark)  # drain anything left by other tests
    lazy = dense_jaccard_pairs(hashed, 0.3)
    assert release(spark) == 1  # exactly the exploded-shingle cache
    # idempotent: nothing left to release
    assert release(spark) == 0
    # the lazy result recomputes its released shingles
    _check(lazy, _brute(payload, _jaccard, 0.3))

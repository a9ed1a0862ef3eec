"""Corpus curation compositions: the end-to-end training-data cleaning
pass (quality filter -> exact dedup -> near-dup removal) and
connected-components clustering of near-dup pairs.

At 100 TB this is the pipeline the LLM-data operators exist for: a
corpus scan computes quality + fingerprints, the dedup joins produce
pair/cluster structure, and the final filter keeps one canonical
document per cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs (doc_a, doc_b) ->
    (doc_id, cluster_id) with cluster_id = min doc_id in the component.

    Runs min-label propagation (operators/graph.py::connected_components):
    O(diameter) rounds, which suits near-dup graphs (dup clusters are
    cliques-ish, diameter ~2-4). A caller whose dup graph may contain
    long similarity chains or huge skewed components should call
    graph.connected_components_star directly: large-star/small-star
    contraction takes O(log^2 n) rounds independent of diameter.

    NOTE: RAISES RuntimeError when ``max_iters`` is reached without
    convergence (fail loud rather than return a partial labeling — a
    silently-wrong cluster_id would drop the wrong documents downstream
    in clean_corpus/training_dataset). A non-convergence on a legitimate
    graph means a dup chain longer than max_iters: raise max_iters or
    call connected_components_star."""
    from defimap_data_pipelines_spark.operators.graph import connected_components

    return connected_components(pairs, "doc_a", "doc_b", max_iter=max_iters).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def _curation_stages(
    docs: DataFrame,
    text_col: str,
    min_quality: float,
    jaccard_threshold: float,
    use_minhash: bool,
    hashed: DataFrame | None,
    pairs_full: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(docs_q, docs_e, losers): the three curation stage frames.

    1. docs_q: quality_score >= min_quality;
    2. docs_e: exact-dedup canonicals of docs_q;
    3. losers: non-canonical members of near-dup clusters
       (jaccard >= t; MinHash-LSH at scale, exact index otherwise).

    ``hashed``: optional precomputed full-corpus hashed-shingle frame
    (dedup.hashed_shingles); it is narrowed to the surviving docs
    before pairing. Signatures and pair candidates are per-doc, so
    restricting a full-corpus frame yields exactly the survivor-only
    pairs — the persisted-shingle-table reuse pattern at scale.

    ``pairs_full``: optional precomputed FULL-CORPUS verified pair
    frame (doc_a, doc_b, jaccard) at the SAME threshold and pairing
    strategy. The pair relation is pairwise (signatures, band
    collisions and the exact-Jaccard verify each depend only on the
    two endpoint docs), so pairs among the survivors equal the full
    pair set semi-joined to survivors on both endpoints — the pairing
    pass is skipped entirely. The CLUSTERING still reruns on the
    filtered pairs: removed docs can bridge clusters, so full-corpus
    component labels would be wrong.
    """
    from pyspark.sql import Window

    from defimap_data_pipelines_spark.functions.text import fingerprint
    from defimap_data_pipelines_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from defimap_data_pipelines_spark.operators.textops import (
        with_quality_score,
    )

    # quality: an in-place scan-side predicate (no doc_id self-join)
    docs_q = (
        with_quality_score(docs, text_col)
        .filter(F.col("quality_score") >= min_quality)
        .drop("quality_score")
    )

    # exact dedup: keep the min-doc_id canonical per fingerprint via a
    # single window shuffle (the groupBy+join-back form pays the
    # fingerprint shuffle twice and re-shuffles the full text)
    wfp = Window.partitionBy("_fp")
    docs_e = (
        docs_q.withColumn("_fp", fingerprint(F.col(text_col)))
        .withColumn("_canon", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") == F.col("_canon"))
        .drop("_fp", "_canon")
        # cache: docs_e is consumed by the shingle narrowing, the pair
        # verify pass, and the final anti-join — uncached, each replays
        # the quality filter + dedup window from the corpus scan. (At
        # 100 TB this tier would be a persisted silver table; in one
        # job the in-memory/disk cache is the same role.)
        .cache()
    )

    if pairs_full is not None:
        ids = docs_e.select("doc_id")
        pairs = pairs_full.join(
            ids, pairs_full["doc_a"] == ids["doc_id"], "left_semi"
        )
        pairs = pairs.join(
            ids, pairs["doc_b"] == ids["doc_id"], "left_semi"
        )
    else:
        pair_fn = (
            minhash_lsh_candidates if use_minhash else ngram_jaccard_pairs
        )
        # cache: the narrowed frame feeds both the signature pass and
        # the exact-Jaccard verify pass; uncached, each consumer would
        # redo the survivor join against the full-corpus frame
        hashed_e = (
            hashed.join(docs_e.select("doc_id"), "doc_id").cache()
            if hashed is not None
            else None
        )
        pairs = pair_fn(
            docs_e, text_col, threshold=jaccard_threshold, hashed=hashed_e
        )
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs_q, docs_e, losers


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.5,
    use_minhash: bool = True,
    hashed: DataFrame | None = None,
    pairs_full: DataFrame | None = None,
) -> DataFrame:
    """Quality-filter + dedup pass: returns surviving documents
    (see :func:`_curation_stages` for the stage semantics)."""
    _, docs_e, losers = _curation_stages(
        docs, text_col, min_quality, jaccard_threshold, use_minhash,
        hashed, pairs_full,
    )
    return docs_e.join(losers, "doc_id", "left_anti")


def curation_report(
    docs: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.5,
    use_minhash: bool = True,
    hashed: DataFrame | None = None,
    pairs_full: DataFrame | None = None,
) -> DataFrame:
    """One-row funnel report of the curation pass: how many documents
    survive each stage (the observability every production corpus
    pipeline ships with its dataset card).

    Columns: n_input, n_quality, n_exact, n_final.
    """
    docs_q, docs_e, losers = _curation_stages(
        docs, text_col, min_quality, jaccard_threshold, use_minhash,
        hashed, pairs_full,
    )
    return (
        docs.agg(F.count(F.lit(1)).cast("long").alias("n_input"))
        .crossJoin(
            docs_q.agg(F.count(F.lit(1)).cast("long").alias("n_quality"))
        )
        .crossJoin(
            docs_e.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        )
        .crossJoin(
            docs_e.join(losers, "doc_id", "left_anti").agg(
                F.count(F.lit(1)).cast("long").alias("n_final")
            )
        )
    )


def dedup_against_seen(
    new_docs: DataFrame,
    seen: DataFrame | None,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup at ingest: drop new documents whose
    fingerprint already exists in the ``seen`` state table OR is
    claimed by an earlier new doc, and return the updated state.

    PRECONDITION — ids must arrive in nondecreasing order across
    batches. Under that ordering, replaying a corpus in ANY batch
    split yields exactly the batch-mode `dedup_exact` canonicals
    (asserted in tests), because within a batch the min-doc_id rule
    picks the same canonical the global pass would. If a SMALLER-id
    duplicate arrives in a LATER batch, it is dropped (first-seen
    wins) instead of becoming the canonical, so the replay diverges
    from batch mode — tests/test_incremental.py documents this
    out-of-order divergence explicitly.

    Returns ``(survivors, seen_after)`` where ``seen_after`` is the
    union of the old state and the survivors' fingerprints — persist
    it (e.g. idempotent_replace_range) and feed it to the next batch.

    Scale shape: state is one row per DISTINCT document (fingerprint +
    canonical id — a few dozen bytes, not the text), the probe is a
    broadcast-or-shuffle anti join on the fingerprint, and the
    in-batch claim is the usual min-id groupBy. This is how a daily
    crawl dedups against years of history without re-reading it: the
    history rides as a compact key table, the text never moves again.
    """
    from defimap_data_pipelines_spark.functions.text import fingerprint

    fp = new_docs.withColumn("_fp", fingerprint(F.col(text_col)))
    if seen is not None:
        fresh = fp.join(
            seen.select(F.col("fingerprint").alias("_fp")), "_fp",
            "left_anti",
        )
    else:
        fresh = fp
    canon = fresh.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    survivors = (
        fresh.join(canon, ["_fp", "doc_id"], "left_semi")
        .drop("_fp")
    )
    new_state = canon.select(
        F.col("_fp").alias("fingerprint"),
        F.col("doc_id").alias("canonical_id"),
    )
    seen_after = (
        seen.unionByName(new_state) if seen is not None else new_state
    )
    return survivors, seen_after


class CurationState:
    """Compact persisted state for :func:`clean_corpus_incremental` —
    one row per historical docs_e survivor, never the text:

    - ``fingerprints``: (fingerprint, canonical_id) exact-dedup state
      (same shape dedup_against_seen persists);
    - ``hashed``: (doc_id, _hh array<bigint>) hashed shingles of every
      quality+exact survivor (the persisted-shingle-silver-table
      pattern — signatures rebuild from 8-byte hashes, not text);
    - ``pairs``: (doc_a, doc_b, jaccard) all verified near-dup pairs
      among historical survivors.

    At 100 TB each member is a Delta/parquet table the daily job
    MERGEs into; here they ride as DataFrames (localCheckpoint between
    batches plays the persist role in tests).
    """

    def __init__(self, fingerprints: DataFrame, hashed: DataFrame,
                 pairs: DataFrame):
        self.fingerprints = fingerprints
        self.hashed = hashed
        self.pairs = pairs

    def checkpointed(self) -> "CurationState":
        return CurationState(
            self.fingerprints.localCheckpoint(),
            self.hashed.localCheckpoint(),
            self.pairs.localCheckpoint(),
        )

    def save(self, store, prefix: str = "curation_state") -> None:
        """Persist all three members as parquet tables in a ModelStore
        (pipelines/models.py) — the durable form of the 'each member
        is a silver table the daily job MERGEs into' contract above.
        No single-file coalesce: the state is corpus-sized."""
        store.save_table(self.fingerprints, f"{prefix}/fingerprints")
        store.save_table(self.hashed, f"{prefix}/hashed")
        store.save_table(self.pairs, f"{prefix}/pairs")

    @staticmethod
    def load(store, spark) -> "CurationState":
        """Rehydrate yesterday's state; a curation job resumes against
        it instead of re-reading historical text
        (tests/test_round5_ops.py pins save -> load -> cure-batch-2 ==
        cure-from-scratch)."""
        return CurationState(
            store.load_frame(spark, "curation_state/fingerprints"),
            store.load_frame(spark, "curation_state/hashed"),
            store.load_frame(spark, "curation_state/pairs"),
        )


def clean_corpus_incremental(
    new_docs: DataFrame,
    state: CurationState | None,
    text_col: str = "text",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.5,
) -> tuple[DataFrame, CurationState]:
    """Incremental clean_corpus: cure an APPENDED batch against
    persisted curation state so that append-then-cure equals
    cure-from-scratch (tests/test_incremental.py asserts the
    equivalence), without ever re-reading historical text.

    Same PRECONDITION as dedup_against_seen: doc ids arrive in
    nondecreasing order across batches (so first-seen == global
    min-id canonical).

    Returns ``(survivor_ids, new_state)`` where survivor_ids is the
    CURRENT full survivor set as (doc_id) — a new batch can demote a
    previously surviving document (a bridge doc can merge two old
    clusters), which is why the output is the full set, not a delta;
    diff against the previous materialization to get retractions.

    Scale shape per batch: one scan of the NEW text only (quality +
    fingerprint + shingles), one anti-join against the fingerprint
    state, a band-bucket join of the new signatures against old+new
    signatures (never old×old again), exact-Jaccard verify of the new
    candidates, and re-clustering of the (sparse) verified pair set.
    The pair relation is pairwise in its endpoints, so
    old-pairs ∪ new-touching-pairs is exactly the from-scratch pair
    set — the same argument _curation_stages uses for pairs_full.
    """
    from defimap_data_pipelines_spark.operators.dedup import (
        _verify_jaccard,
        doc_shingles,
        hashed_shingles,
        minhash_bands,
    )
    from defimap_data_pipelines_spark.operators.textops import (
        with_quality_score,
    )

    docs_q = (
        with_quality_score(new_docs, text_col)
        .filter(F.col("quality_score") >= min_quality)
        .drop("quality_score")
    )
    fresh, fp_after = dedup_against_seen(
        docs_q, state.fingerprints if state else None, text_col
    )
    hashed_new = hashed_shingles(
        doc_shingles(fresh, text_col)
    ).localCheckpoint()
    hashed_all = (
        state.hashed.unionByName(hashed_new) if state else hashed_new
    )

    # band the new signatures against old+new: every pair touching a
    # new doc is found; old-old pairs already live in state.pairs
    b_all = minhash_bands(hashed_all).localCheckpoint()
    new_ids = hashed_new.select("doc_id")
    b_new = b_all.join(new_ids, "doc_id", "left_semi")
    cand = (
        b_new.select(F.col("doc_id").alias("doc_n"), "band", "bucket")
        .join(
            b_all.select(F.col("doc_id").alias("doc_x"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("doc_n") != F.col("doc_x"))
        .select(
            F.least("doc_n", "doc_x").alias("doc_a"),
            F.greatest("doc_n", "doc_x").alias("doc_b"),
        )
        .distinct()
    )
    new_pairs = _verify_jaccard(cand, hashed_all, jaccard_threshold)
    pairs_all = (
        state.pairs.unionByName(new_pairs) if state else new_pairs
    )

    clusters = dedup_clusters(pairs_all)
    losers = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    survivor_ids = hashed_all.select("doc_id").join(
        losers, "doc_id", "left_anti"
    )
    return survivor_ids, CurationState(fp_after, hashed_all, pairs_all)

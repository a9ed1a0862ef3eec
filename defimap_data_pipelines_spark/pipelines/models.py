"""Persisted trained artifacts — the ``models/`` table convention.

Every trainable artifact in this engine — k-means / IVF centroid
codebooks, bloom decontamination bitsets, count-min counter grids —
is a SMALL frame fit from a LARGE corpus. At 100 TB the fit is the
expensive pass (a full corpus scan or several), while the artifact
itself is KBs; the real workflow is therefore fit-once / probe-daily:
yesterday's codebook assigns today's batch, last release's bench
bloom decontaminates every new shard, the long-lived CMS answers
frequency probes across releases. CurationState
(operators/corpus.py) already persists dedup state between batches;
this module is the same convention for model artifacts.

Everything round-trips through parquet bit-exactly: doubles are IEEE
bits in parquet, longs are longs, so a LOADED codebook produces
byte-identical assignments and probes to the frame it was saved from
— pinned by round-trip tests (tests/test_round5_ops.py) and by the
``*_persisted`` driver queries, which share their oracles with the
fit-inline variants (the load path must reproduce the training
path's value hashes exactly).

Layout: one directory per store, one parquet table per artifact
name. Artifacts are K-row frames, so each is coalesced to a single
file (a thousand-file codebook would be the small-files anti-pattern
compact_small_files exists to undo). Scalar hyperparameters (bloom
bits/k, CMS depth/width) travel as repeated columns on the artifact
rows rather than a sidecar — self-describing under plain
``spark.read.parquet``, no JSON parsing in a restricted executor
environment.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.sources.parquet import dir_tag


class ModelStore:
    """Directory of named parquet artifacts (local path or any
    Spark-readable URI — writes go through the DataFrameWriter, not
    ``os``, so object stores work)."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    # -- generic K-row frames (centroid codebooks, CMS counters) ----

    def save_frame(self, df: DataFrame, name: str) -> str:
        p = self.path(name)
        # repartition(1), NOT coalesce(1): artifacts here often come
        # from createDataFrame(list) (python-parallelized slices), and
        # coalesce(1) chains every pickled slice through ONE python
        # worker sequentially — measured 5.5 s for a 2048-row bloom vs
        # 1.1 s via the shuffle (which converts slices in parallel
        # first). Same single-file layout either way.
        df.repartition(1).write.mode("overwrite").parquet(p)
        return p

    def load_frame(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.path(name))

    def load_frame_if_present(
        self, spark: SparkSession, name: str
    ) -> DataFrame | None:
        """The artifact, or None if nothing is saved under ``name`` yet.
        Existence is probed with a read attempt (works on any Spark
        filesystem, unlike os.path), and ONLY a path-not-found failure
        means "not there yet". Any other load error (corrupt artifact,
        permissions, transient FS fault) propagates: starting over
        would mask it and overwrite the existing artifact."""
        from pyspark.errors import AnalysisException

        try:
            return self.load_frame(spark, name)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in f"{e.getCondition()} {e}":
                return None
            raise

    def save_table(self, df: DataFrame, name: str) -> str:
        """Like save_frame but WITHOUT the single-file coalesce — for
        corpus-sized state (curation fingerprints, hashed shingles)
        where one file would funnel the write through one task."""
        p = self.path(name)
        df.write.mode("overwrite").parquet(p)
        return p

    # -- centroid codebooks (kmeans_fit / update_centroids output) --

    def save_centroids(self, centroids: DataFrame, name: str) -> str:
        """(cluster int, c array<double>) — the frame both
        assign_clusters and ivf_topk(centroids=...) accept."""
        return self.save_frame(
            centroids.select(
                F.col("cluster").cast("int").alias("cluster"),
                F.col("c").cast("array<double>").alias("c"),
            ),
            name,
        )

    def load_centroids(self, spark: SparkSession, name: str) -> DataFrame:
        return self.load_frame(spark, name).select("cluster", "c")

    # -- bloom bitsets (bloom_build output) -------------------------

    def save_bloom(
        self,
        spark: SparkSession,
        words: list[int],
        name: str,
        bits: int,
        k: int,
    ) -> str:
        """The bits//64 longs of a bloom filter, one row per word so
        the artifact is queryable (e.g. popcount load-factor checks)
        and merge-able (OR two filters = full-outer join + bitwise
        or) without custom binary parsing."""
        rows = [(i, int(w), int(bits), int(k)) for i, w in enumerate(words)]
        df = spark.createDataFrame(
            rows, "word_id int, word long, bits int, k int"
        )
        return self.save_frame(df, name)

    def load_bloom(
        self, spark: SparkSession, name: str
    ) -> tuple[list[int], int, int]:
        """-> (words, bits, k), ready for bloom_probe."""
        rows = self.load_frame(spark, name).collect()
        rows.sort(key=lambda r: r["word_id"])
        if not rows:
            raise ValueError(f"empty bloom artifact at {self.path(name)}")
        bits, k = rows[0]["bits"], rows[0]["k"]
        if len(rows) != bits // 64:
            raise ValueError(
                f"bloom artifact {name}: {len(rows)} words for {bits} bits"
            )
        return [r["word"] for r in rows], bits, k

    # -- count-min counter grids (cms_counters output) --------------

    def save_cms(
        self, counters: DataFrame, name: str, depth: int, width: int
    ) -> str:
        return self.save_frame(
            counters.select(
                F.col("row").cast("int"),
                F.col("bucket").cast("int"),
                F.col("c").cast("long"),
                F.lit(depth).cast("int").alias("depth"),
                F.lit(width).cast("int").alias("width"),
            ),
            name,
        )

    def load_cms(
        self, spark: SparkSession, name: str
    ) -> tuple[DataFrame, int, int]:
        df = self.load_frame(spark, name)
        meta = df.select("depth", "width").first()
        if meta is None:
            raise ValueError(f"empty CMS artifact at {self.path(name)}")
        return (
            df.select("row", "bucket", "c"),
            int(meta["depth"]),
            int(meta["width"]),
        )


def fit_or_load_frame(
    store: ModelStore,
    spark: SparkSession,
    name: str,
    fit,
) -> DataFrame:
    """Load ``name`` if the artifact exists, else fit and save it —
    the incremental-curation idiom: day 1 pays the training scan,
    every later batch reuses the artifact. ``fit`` is a zero-arg
    callable returning the frame. Only a missing artifact means "not
    yet fitted" (``ModelStore.load_frame_if_present``); any other load
    error propagates rather than refitting over the artifact."""
    existing = store.load_frame_if_present(spark, name)
    if existing is not None:
        return existing
    store.save_frame(fit(), name)
    return store.load_frame(spark, name)


def default_store_root(tag: str) -> str:
    """Deterministic per-corpus scratch location for driver queries
    and tests."""
    return os.path.join("/tmp", f"spark_graft_models_{dir_tag(tag)}")

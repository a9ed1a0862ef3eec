"""Deduplication operators for the documents table (engine extension:
LLM-training-data pipeline, 100 TB posture).

- exact_dedup: hash-groupBy on the normalized-text fingerprint. One
  shuffle on the hash; at scale the fingerprint is computed scan-side
  and the groupBy is the only wide stage.
- ngram_jaccard_pairs: EXACT near-dup pairs in the SPARSE regime
  (shingle vocab >> docs, e.g. word n-grams) via a distinct-shingle
  inverted-index self-join (shingle -> docs postings; pairs only
  materialize for docs sharing a shingle). Intersections/unions are
  integer counts, so results are engine-reproducible.
- dense_jaccard_pairs: the same exact pairs in the DENSE regime
  (small vocab, e.g. char n-grams), as block BLAS matmuls.
- minhash_lsh_candidates: the approximate scale path. Per doc: k minhash
  values (xxhash64 with k salts over distinct shingles), banded into
  b bands (minhash_bands); docs sharing a band bucket become
  candidates; candidates are verified with exact Jaccard. At 100 TB
  the band-bucket join replaces the quadratic blowup with collision
  groups.
- simhash64: 64-bit simhash from token hashes; near-dups = pairs within
  Hamming distance d (joined on rotated prefix buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.functions.text import fingerprint, word_shingles
from defimap_data_pipelines_spark.operators.cachereg import pin
from defimap_data_pipelines_spark.operators.similarity import block_pairs


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (fingerprint, canonical_id, n_dups); canonical = min doc_id.
    """
    return (
        docs.select("doc_id", fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, _sh: array<string>) distinct word n-grams per doc."""
    return docs.select(
        "doc_id", word_shingles(F.col(text_col), n).alias("_sh")
    )


def hashed_shingles(shingles: DataFrame) -> DataFrame:
    """(doc_id, _hh: array<bigint>) xxhash64 of each distinct shingle,
    sorted ascending.

    The hashed form is the workhorse for set-similarity: 64-bit
    integer arrays intersect ~5x faster than string arrays and
    self-join on a fixed-width key. Collisions (~|shingles|^2 / 2^64)
    are negligible and the string-based oracle in CI would catch one.
    """
    return shingles.select(
        "doc_id",
        F.sort_array(F.transform("_sh", lambda s: F.xxhash64(s))).alias("_hh"),
    )


def _hashed(
    docs: DataFrame,
    text_col: str,
    n: int,
    shingles: DataFrame | None,
    hashed: DataFrame | None,
) -> DataFrame:
    """The caller's hashed-shingle frame, else one built from
    ``shingles``, else from ``docs``' word n-grams."""
    if hashed is not None:
        return hashed
    sh = shingles if shingles is not None else doc_shingles(docs, text_col, n)
    return hashed_shingles(sh)


def _jaccard_at_least(counts: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) from (doc_a, doc_b, _ni, _na, _nb)
    intersection and set sizes, kept at jaccard >= threshold.
    jaccard = ni / (na + nb - ni) in float64 — the identical IEEE
    division the SQL oracles perform."""
    jac = counts.select(
        "doc_a",
        "doc_b",
        (
            F.col("_ni") / (F.col("_na") + F.col("_nb") - F.col("_ni")).cast("double")
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (doc_a < doc_b), the
    SPARSE-regime path: shingle vocab large against the corpus, as
    with word n-grams.

    jaccard = |A∩B| / (|A| + |B| - |A∩B|) over distinct n-grams.

    Inverted-index self-join on the shingle hash: a map-side-combining
    groupBy counts each pair's intersection directly, so one shuffle
    round yields the result with no second verification pass. Pairs
    only materialize for docs sharing a shingle; the size-ratio
    filter drops those whose sizes alone rule out the threshold.
    Result-identical to the naive formulation modulo 64-bit shingle
    hash collisions (probability ~|shingles|^2/2^64; the string-based
    oracle in CI would catch one).

    PPJoin-style prefix filtering (hash or document-frequency shingle
    order) was measured against this path on word 3-grams at sf0.1
    (4 vCPU, cached shingles) and lost at t=0.35, 0.5 and 0.8 alike:
    the extra verification pass costs more than the candidates it
    prunes. In the dense regime (small vocab: char n-grams) every doc
    pair shares shingles and this join goes quadratic; use
    dense_jaccard_pairs there.
    """
    hs = _hashed(docs, text_col, n, shingles, hashed)
    post = hs.select(
        "doc_id", F.size("_hh").alias("nsh"), F.explode("_hh").alias("h")
    )
    a = post.select(
        F.col("doc_id").alias("doc_a"), F.col("nsh").alias("_na"), "h"
    )
    b = post.select(
        F.col("doc_id").alias("doc_b"), F.col("nsh").alias("_nb"), "h"
    )
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size-ratio filter: jaccard>=t implies t*max(|a|,|b|) <= min
        .filter(
            (F.col("_na") >= F.lit(threshold) * F.col("_nb"))
            & (F.col("_nb") >= F.lit(threshold) * F.col("_na"))
        )
        .groupBy("doc_a", "doc_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_ni"))
    )
    return _jaccard_at_least(inter, threshold)


def dense_jaccard_pairs(hashed: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard pairs (doc_a, doc_b, jaccard), doc_a < doc_b, over
    a hashed-shingle frame (doc_id, _hh) in the DENSE regime: a
    shingle vocab small against the corpus, such as char n-grams over
    a narrow alphabet (~2k distinct 5-grams across 5k docs at sf0.1).
    There every doc pair shares shingles, so any candidate join is
    ~all-pairs; instead the ``block_pairs`` scaffold gives each
    unordered pair of 8 doc blocks one task that materializes its two
    0/1 doc-x-vocab sub-matrices (float32, exact for counts < 2^24)
    and computes ALL pairwise intersections as one BLAS matmul — the
    per-pair cost collapses to a fused multiply-add (measured 5.1 s at
    sf0.1, against 166 s for df-ordered prefix filtering and 362 s for
    the inverted index). No exact algorithm is sublinear in pairs
    here; this one minimizes the per-pair constant.

    The vocab index collects once (the collect-tiny-codebooks rule);
    per-task memory is block_docs x vocab x 4 B, so the kernel is
    gated at 2^16 distinct shingles. Above the gate the result comes
    from ngram_jaccard_pairs' inverted index: still exact, but slower
    than the df-ordered prefix filter that used to serve it (362 s
    against 166 s at sf0.1 char density). No registered input reaches
    the gate: the char 5-gram vocab is 1,981 at sf0.01 and 2,041 at
    sf0.1. jaccard is the same float64 division as
    _jaccard_at_least."""
    import numpy as np

    # two consumers (vocab collect, per-doc index lists) — cache or
    # the whole shingle scan re-executes per branch
    ex = hashed.select("doc_id", F.explode("_hh").alias("h")).cache()
    vocab = sorted(r["h"] for r in ex.select("h").distinct().collect())
    nv = len(vocab)
    if nv > 1 << 16:
        ex.unpersist()
        return ngram_jaccard_pairs(None, threshold=threshold, hashed=hashed)
    # the lazy result reads it: held in the session's bounded store
    pin(ex)
    vidx = hashed.sparkSession.createDataFrame(
        [(h, i) for i, h in enumerate(vocab)], "h long, _i long"
    )
    per = (
        ex.join(F.broadcast(vidx), "h")
        .groupBy("doc_id")
        .agg(F.collect_list("_i").alias("_is"))
    )

    def mat(rows) -> np.ndarray:
        m = np.zeros((len(rows), nv), dtype=np.float32)
        for r_, idxs in enumerate(rows):
            m[r_, np.asarray(idxs, dtype=np.int64)] = 1.0
        return m

    def score(lm, rm, ii, jj):
        ni = (lm @ rm.T).astype(np.int64)[ii, jj]
        na = lm.sum(axis=1).astype(np.int64)[ii]
        nb = rm.sum(axis=1).astype(np.int64)[jj]
        return ni / (na + nb - ni).astype(np.float64)

    return block_pairs(
        per, "doc_id", F.col("_is"), mat, score, threshold,
        ("doc_a", "doc_b", "jaccard"),
    )


def _verify_jaccard(
    cand: DataFrame, hs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidate pairs
    against sorted hashed-shingle arrays.

    The broadcast is right for the bench SFs; on a 100 TB corpus the
    doc-id joins fall back to shuffle hash joins automatically once
    ``hs`` exceeds the broadcast threshold (the hint degrades to a
    plain join when Spark can't satisfy it) — candidates stay a tiny
    fraction of the cross product either way.
    """
    staged = (
        cand.join(
            F.broadcast(
                hs.select(F.col("doc_id").alias("doc_a"), F.col("_hh").alias("_sa"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                hs.select(F.col("doc_id").alias("doc_b"), F.col("_hh").alias("_sb"))
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("_ni"),
            F.size("_sa").alias("_na"),
            F.size("_sb").alias("_nb"),
        )
    )
    return _jaccard_at_least(staged, threshold)


def minhash_signatures(hashed: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, sig: array<bigint>) minhash signatures of a
    hashed-shingle frame.

    h_i(shingle) = xxhash64(xxhash64(shingle), salt_i); sig[i] = min
    over the doc's distinct shingles. Re-hashing the 64-bit shingle
    hash (instead of the string) keeps the min-wise hash-family
    property and cuts per-row hashing cost ~30% — each of the
    num_hashes functions hashes 8 bytes, not a ~20-char string, and
    the base hash is shared with the jaccard operators' cached frame.
    """
    # explode once, aggregate num_hashes mins: map-side partial
    # aggregation collapses to |docs| * num_hashes before the shuffle.
    # (A per-row transform() formulation looks cheaper but Catalyst's
    # projection collapse re-inlines the shingle array into all 64
    # lambdas when the input frame isn't cached — 30x slower.)
    post = hashed.select("doc_id", F.explode("_hh").alias("h"))
    aggs = [
        F.min(F.xxhash64("h", F.lit(i))).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return (
        post.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def minhash_bands(
    hashed: DataFrame, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(doc_id, band, bucket) LSH band buckets of each doc's minhash
    signature: rows-per-band r = num_hashes/bands, and two docs are
    candidates iff some band's signature slice matches exactly. The
    batch (minhash_lsh_candidates) and incremental
    (corpus.clean_corpus_incremental) curation paths both band here,
    so they share one (num_hashes, bands) and stay equal.
    """
    r = num_hashes // bands
    sigs = minhash_signatures(hashed, num_hashes)
    # bucket = xxhash64 of the band's r signature longs + the band id,
    # hashed directly (no string materialization — concat_ws of longs
    # costs more than the hash itself). Equal slices still collide
    # identically, so recall is unchanged; false collisions differ but
    # are removed by exact verification either way.
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * r + i)
                                for i in range(1, r + 1)
                            ],
                            F.lit(b),
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash+LSH banding (minhash_bands), verified
    with exact Jaccard (returns doc_a, doc_b, jaccard >= threshold);
    candidates hash-join on (band, bucket).
    """
    hs = _hashed(docs, text_col, n, shingles, hashed)
    banded = minhash_bands(hs)
    left = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify candidates with exact jaccard: join the two hashed shingle
    # arrays onto each candidate pair and intersect per-row (no
    # re-shuffle of the postings index; candidates are a small fraction
    # of pairs, and bigint intersects beat string intersects ~5x)
    return _verify_jaccard(cand, hs, threshold)


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from whitespace-token xxhash64s.

    bit_j(sig) = 1 iff sum over tokens of sign(bit_j(h(token))) > 0.
    One token explode, then 64 map-side-combined sum aggregates (one
    per bit) in a single groupBy — the earlier per-bit posexplode
    multiplied the shuffle by 64 (tokens x 64 rows through two
    groupBys) for the same integer sums.
    """
    from defimap_data_pipelines_spark.functions.text import ws_tokens

    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col(text_col))).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    h = F.col("h")
    aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_s{j}")
        for j in range(64)
    ]
    bits = toks.groupBy("doc_id").agg(*aggs)
    # disjoint bit literals: addition == bitwise OR; 1<<63 is
    # Long.MIN_VALUE in two's complement (matches JVM shiftleft)
    sim = F.lit(0).cast("long")
    for j in range(64):
        bit = (1 << j) if j < 63 else -(1 << 63)
        sim = sim + F.when(F.col(f"_s{j}") > 0, F.lit(bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bits.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Block on 16-bit chunks (pigeonhole: d<=3 pairs share at least one of
    4 chunks), then verify the Hamming distance with bit_count.

    The signature frame feeds BOTH self-join sides; uncached, the
    whole explode + xxhash64 + 64-sum subtree executes once per side
    (r12 optimization: the before-plan shows the full Generate +
    two-phase HashAggregate twice — caching the O(docs)-row
    (doc_id, simhash) frame halves the heavy work; pinned in the
    session's bounded store, the containment_pairs idiom).
    """
    sigs = pin(simhash64(docs, text_col).cache())
    blocked = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("chunk"),
                        F.shiftright(F.col("simhash"), k * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "chunk", "key"
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "chunk", "key"
    )
    pairs = (
        a.join(b, ["chunk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_md5(docs: DataFrame, text_col: str = "text", bits: int = 60) -> DataFrame:
    """Engine-neutral SimHash twin of :func:`simhash64`.

    Token hashes come from the first 15 hex chars of md5 (60 bits) so a
    SQL oracle can replay the signature bit-for-bit — xxhash64 exists
    only inside Spark. Same aggregate structure: one token explode, 60
    map-side-combined sign sums in a single groupBy. The production
    path stays on :func:`simhash64` (xxhash64 is ~3x cheaper per
    token); this twin puts the ALGORITHM under the value-hash gate.
    """
    from defimap_data_pipelines_spark.functions.text import ws_tokens

    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.col(text_col))).alias("tok")
    ).select("doc_id", h.alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_s{j}")
        for j in range(bits)
    ]
    grouped = toks.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(
            F.col(f"_s{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return grouped.select("doc_id", sim.alias("simhash"))


def simhash_md5_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs on the md5 SimHash, 15-bit chunk blocking.

    Pigeonhole-exact: distance <= 3 pairs agree on at least one of the
    four 15-bit chunks, so the blocked join has full recall and the
    bit_count verify makes the result identical to all-pairs.

    The signature frame feeds BOTH self-join sides; cached (pinned in
    the session's bounded store, the containment_pairs idiom) so the
    explode + md5 + 60-sum signature subtree runs once, not per side —
    md5 SimHash is ~3x the per-token cost of the xxhash64 path, so
    the recompute was the dominant share of this operator's time.
    """
    sigs = pin(simhash_md5(docs, text_col).cache())
    blocked = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("chunk"),
                        F.shiftright(F.col("simhash"), k * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("key"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    a = blocked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "chunk",
        "key",
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        "chunk",
        "key",
    )
    pairs = (
        a.join(b, ["chunk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return pairs.select("doc_a", "doc_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = ". ",
    max_count: int = 2,
    tokens_per_line: int | None = None,
) -> DataFrame:
    """Corpus-wide repeated-line removal (the C4 cleaning rule: drop
    any line that occurs ``max_count``-or-more times ACROSS the whole
    corpus — boilerplate headers, cookie banners, license blurbs).

    Returns (doc_id, n_kept, n_dropped, text_clean) with the document
    reassembled from its surviving lines in original order.

    ``tokens_per_line``: when set, "lines" are non-overlapping
    N-whitespace-token segments instead of ``sep``-delimited lines —
    for corpora without line structure (and the shingle-style segment
    dedup variant some pipelines use).

    Scale shape: posexplode -> one groupBy on the line fingerprint
    (map-side combined counts) -> ONE left join marking each posting
    dup/kept (broadcast when the frequent set is small, shuffle
    otherwise; it is tiny by construction — only lines repeated
    corpus-wide) -> ONE groupBy(doc_id) computing kept/dropped counts
    and the reassembled text together (conditional collect_list skips
    dropped lines). A previous formulation ran separate anti/semi
    joins and two reassembly aggregations — three scans of the
    exploded lines and ~8 exchanges; this is one scan and 4 (measured
    3.7 s -> see bench). No window over the corpus, no driver data.
    Reassembly sorts each doc's surviving line structs with array_sort
    on the position field — per-row, not a global order.
    """
    import re as _re

    if tokens_per_line is not None:
        n = int(tokens_per_line)
        seg = F.expr(
            f"transform(sequence(0, (size(split({text_col}, ' ')) + {n} - 1)"
            f" div {n} - 1),"
            f" i -> array_join(slice(split({text_col}, ' '), i * {n} + 1,"
            f" {n}), ' '))"
        )
        line_arr = seg
        join_sep = " "
    else:
        # F.split takes a REGEX; escape the literal separator
        line_arr = F.split(F.col(text_col), _re.escape(sep), -1)
        join_sep = sep
    # bounded cache (r13, guide §2.4): the exploded (doc_id, pos, line)
    # frame feeds BOTH the corpus-frequency groupBy and the dup-marking
    # join — uncached, the split + posexplode subtree (and its parquet
    # scan) executed once per consumer
    lines = pin(
        docs.select(
            "doc_id",
            F.posexplode(line_arr).alias("pos", "line"),
        ).cache()
    )
    freq = (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= max_count)
        .select("line", F.lit(True).alias("_dup"))
    )
    marked = lines.join(freq, "line", "left")
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.when(F.col("_dup").isNull(), 1)).cast("long").alias(
            "n_kept"
        ),
        F.count(F.col("_dup")).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_dup").isNull(),
                            F.struct("pos", "line"),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            join_sep,
        ).alias("text_clean"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 5,
    max_count: int = 2,
) -> DataFrame:
    """Exact repeated-substring removal (the "Deduplicating Training
    Data Makes Language Models Better" rule, token-grain): any
    ``min_len``-token window occurring ``max_count``-or-more times
    ACROSS the corpus marks its span for removal; a token survives iff
    no frequent window covers it. Returns (doc_id, n_tokens,
    n_removed, text_clean) with surviving tokens rejoined in order.

    Unlike line_dedup's non-overlapping segments, windows here OVERLAP
    (stride 1), so repeated passages are caught at any alignment and
    removed spans merge naturally — coverage semantics replace
    interval merging: token p is covered iff some frequent window
    starts in [p-L+1, p].

    Scale shape: the sliding-window explode is one postings-like pass
    (n_tokens rows); the frequent-window set is tiny by construction
    (only corpus-repeated windows); per-doc frequent starts come back
    as one small array per affected doc, and the coverage test is a
    per-row higher-order exists — no range join, no window over the
    corpus.
    """
    ts = F.split(F.col(text_col), " ")
    L = int(min_len)
    # bounded caches (r13, guide §2.4): ``toks`` feeds the window
    # explode AND the reassembly join (two split() scans uncached),
    # and ``wins`` — the expensive per-token slice+array_join window
    # build — feeds BOTH the corpus-frequency groupBy and the
    # frequent-start semi-join
    toks = pin(
        docs.select("doc_id", ts.alias("_ts")).cache()
    )
    wins = pin(
        toks.select(
            "doc_id",
            F.posexplode(
                # NB: F.sequence(0, -1) DESCENDS, so short docs need an
                # explicit empty-array branch (DuckDB's range() is empty)
                F.expr(
                    f"CASE WHEN size(_ts) >= {L} THEN"
                    f" transform(sequence(0, size(_ts) - {L}),"
                    f" i -> array_join(slice(_ts, i + 1, {L}), ' '))"
                    f" ELSE array() END"
                )
            ).alias("start", "w"),
        ).cache()
    )
    freq = (
        wins.groupBy("w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= max_count)
        .select("w")
    )
    fstarts = (
        wins.join(freq, "w", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("start")).alias("_starts"))
    )
    staged = toks.join(fstarts, "doc_id", "left").withColumn(
        "_starts", F.coalesce("_starts", F.array().cast("array<int>"))
    )
    # stage the covered-token filter ONCE: the exists() scan over the
    # frequent-start list is the expensive interpreted HOF here, and
    # CollapseProject deliberately keeps the two consumers below in a
    # separate project rather than inlining (and re-evaluating) it
    staged = staged.withColumn(
        "_kept",
        F.expr(
            f"filter(transform(_ts, (x, i) -> struct(i AS i, x AS x)),"
            f" s -> NOT exists(_starts,"
            f" st -> st BETWEEN s.i - {L} + 1 AND s.i))"
        ),
    )
    return staged.select(
        "doc_id",
        F.size("_ts").cast("long").alias("n_tokens"),
        (F.size("_ts") - F.size("_kept")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(F.col("_kept"), lambda s: s["x"]), " "
        ).alias("text_clean"),
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold_bp: int = 5000,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by shingle containment
    (doc_a < doc_b): cont_bp = 10000 * |A∩B| / min(|A|, |B|) in exact
    basis points. Containment is the Dolma/Broder complement of
    Jaccard: a short document wholly embedded in a long one scores
    containment 10000 while its Jaccard can be arbitrarily small —
    the subset-duplicate case Jaccard-thresholded dedup structurally
    misses. It is also the designated owner of CROSS-LENGTH near
    duplication: levenshtein_neardup_pairs' band contract excludes
    pairs of very different full length by design and delegates them
    here (tests/test_round9_fixes.py pins the split in both
    directions).

    Same inverted-index shape as ngram_jaccard_pairs (the
    sparse-regime Jaccard path): explode distinct hashed shingles,
    self-join on the hash, map-side-combining groupBy counts the
    intersection, sizes join in at the end — one shuffle round,
    candidate pairs bounded by shingle co-occurrence (never
    all-pairs). Integer basis points make the threshold an exact
    int64 compare, so the cut replays bit-for-bit in a SQL oracle.

    ``max_doc_freq`` is the 100 TB knob: a shingle occurring in F
    documents contributes F^2 join rows; stopword-like shingles
    dominate the join while contributing little evidence. Dropping
    shingles with df > cap bounds the blowup at the cost of
    undercounting intersections by at most (dropped shingles) —
    sound for thresholded screening when cap >> 1/t. Left None the
    count is exact (what the oracle checks).
    """
    # branch-reuse rule: the tokenize/shingle/hash scan feeds BOTH
    # self-join sides (and the optional df filter) — cache the
    # per-doc array frame (pre-explode, so O(docs) rows) or the
    # whole upstream scan executes once per consumer (r8 containment
    # adjudication: the double scan was ~40% of wall time at sf0.1).
    # The cache outlives the call (the result is lazy), so it is pinned
    # in the session's bounded store (operators/cachereg.py).
    hs = pin(hashed_shingles(doc_shingles(docs, text_col, n)).cache())
    post = hs.select(
        "doc_id", F.size("_hh").alias("ns"), F.explode("_hh").alias("h")
    )
    if max_doc_freq is not None:
        df_ = post.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
        post = post.join(
            df_.filter(F.col("_df") <= max_doc_freq).select("h"), "h"
        )
    a = post.select(
        F.col("doc_id").alias("doc_a"), F.col("ns").alias("ns_a"), "h"
    )
    b = post.select(
        F.col("doc_id").alias("doc_b"), F.col("ns").alias("ns_b"), "h"
    )
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "ns_a", "ns_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
        .withColumn(
            "cont_bp",
            F.expr("n_inter * 10000L div least(ns_a, ns_b)"),
        )
        .filter(F.col("cont_bp") >= threshold_bp)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.col("ns_a").cast("long").alias("ns_a"),
            F.col("ns_b").cast("long").alias("ns_b"),
            "cont_bp",
        )
    )


def levenshtein_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
    lang_col: str = "lang",
    band_width: int = 16,
    prefix_len: int = 64,
    tau: int = 12,
) -> DataFrame:
    """Edit-distance near-duplicate pairs: (doc_a, doc_b, lev) where

      1. the documents' FULL lengths (``len_col``) fall in the same
         or adjacent ``band_width``-char bands, AND
      2. levenshtein(prefix_a, prefix_b) <= tau over
         ``prefix_len``-char prefixes.

    The length-similarity condition (1) is PART OF THE OUTPUT
    CONTRACT, not a recall heuristic that can silently drop pairs:
    two documents of wildly different total length are not
    near-duplicates even when their prefixes match (a 52-char note
    is not a near-dup of a 9000-char article that quotes it —
    that's the CONTAINMENT operator's job, containment_pairs). The
    r8 ADVICE showed that banding alone is NOT exact for the
    prefix-lev predicate (prefix lengths clamp at prefix_len, so
    lev >= |len_a - len_b| only bounds the compared strings); and
    banding on the compared-prefix length, while exact for (2)
    alone, collapses every >= prefix_len doc into ONE band — the
    corpus becomes a single quadratic block (measured 2.8 s -> 69 s
    at sf0.1). Defining (1) into the contract keeps the blocking
    EXACT for the defined output and band-local.

    Candidates = one same-band self-join (id_a < id_b) plus one
    strictly-adjacent-band join (disjoint conditions, so no pair
    dedup needed; adjacent pairs re-orient by id afterwards). Each
    band holds only docs of similar full length, so the join is
    band-local — the 100 TB shape is |bands| independent block
    joins, never corpus-quadratic, and the per-pair verify is
    O(prefix_len * tau) via Spark's thresholded levenshtein
    (early-exits above tau; the DuckDB oracle computes the plain
    distance and filters — identical kept pairs and values; the
    oracle carries the SAME band predicate, so condition (1) is
    parity-checked, not assumed)."""
    # bounded cache (r12, guide §2.4): the (id, lang, band, prefix)
    # frame feeds BOTH sides of BOTH the same-band and adjacent-band
    # joins — uncached the projection subtree (and its parquet scan)
    # executed four times per call
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(lang_col).alias("_lang"),
        F.expr(f"{len_col} div {band_width}").alias("_band"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_p"),
    )
    a = base.select(
        F.col("_id").alias("_ida"),
        F.col("_lang").alias("_la"),
        F.col("_band").alias("_ba"),
        F.col("_p").alias("_pa"),
    )
    b = base.select(
        F.col("_id").alias("_idb"),
        F.col("_lang").alias("_lb"),
        F.col("_band").alias("_bb"),
        F.col("_p").alias("_pb"),
    )
    same = a.join(
        b,
        (F.col("_la") == F.col("_lb"))
        & (F.col("_ba") == F.col("_bb"))
        & (F.col("_ida") < F.col("_idb")),
    ).select(
        F.col("_ida").alias("doc_a"),
        F.col("_idb").alias("doc_b"),
        F.col("_pa").alias("pa"),
        F.col("_pb").alias("pb"),
    )
    adj = a.join(
        b,
        (F.col("_la") == F.col("_lb"))
        & (F.col("_ba") + 1 == F.col("_bb")),
    ).select(
        F.least("_ida", "_idb").alias("doc_a"),
        F.greatest("_ida", "_idb").alias("doc_b"),
        F.col("_pa").alias("pa"),
        F.col("_pb").alias("pb"),
    )
    cand = same.unionAll(adj)
    scored = cand.withColumn(
        "lev", F.levenshtein("pa", "pb", tau).cast("long")
    )
    return scored.filter(F.col("lev") >= 0).select(
        "doc_a", "doc_b", "lev"
    )

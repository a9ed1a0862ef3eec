"""Text-analysis operators over the documents table (engine extension —
the reference has no text processing; these are the LLM-training-data
operators the 100 TB posture requires).

All JVM-side expressions (no Python UDFs): language-ID via stopword-hit
scoring, quality scoring from length/punct/stopword ratios, token
counting (whitespace + BPE-ish regex), md5 fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    normalize_text,
    punct_ratio,
    ws_tokens,
)


def _tok_hits(toks: Column, words: list[str]) -> Column:
    """# elements (with duplicates) of a token array in ``words``."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _staged_tokens(
    docs: DataFrame, text_col: str, extra: list[Column] | None = None
) -> DataFrame:
    """(doc_id, _norm, _toks, *extra): normalize and split ONCE.

    The staged select keeps one regexp_replace and one split in the
    physical plan no matter how many downstream metrics consume them —
    Spark's CollapseProject guard (it refuses to inline a non-cheap
    alias referenced more than once) preserves the staging; the naive
    one-select formulation evaluates normalize/split per metric
    (5 regexp_replace + 3 split in the text_stats plan, ~25% slower).
    """
    c = F.col(text_col)
    return docs.select(
        "doc_id",
        normalize_text(c).alias("_norm"),
        *(extra or []),
    ).select("*", F.split("_norm", " ").alias("_toks"))


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: char/token counts, punctuation and stopword
    ratios, deterministic fingerprint."""
    c = F.col(text_col)
    staged = _staged_tokens(
        docs,
        text_col,
        extra=[
            F.length(c).alias("n_chars"),
            bpe_ish_token_count(c).alias("n_bpe_tokens"),
            punct_ratio(c).alias("punct_ratio"),
        ],
    )
    n_ws = F.size("_toks")
    return staged.select(
        "doc_id",
        "n_chars",
        n_ws.alias("n_ws_tokens"),
        "n_bpe_tokens",
        "punct_ratio",
        (
            _tok_hits(F.col("_toks"), STOPWORDS["en"]) / n_ws.cast("double")
        ).alias("stopword_ratio"),
        F.md5("_norm").alias("fingerprint"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: stopword-hit score per language, argmax
    with a fixed tie-break order (en > de > fr > es > it)."""
    staged = _staged_tokens(docs, text_col)
    # score each language from the SAME token array (one split total),
    # staging the scores so the argmax cascade references cheap columns
    scored = staged.select(
        "doc_id",
        *[
            _tok_hits(F.col("_toks"), words).alias(f"score_{lang}")
            for lang, words in STOPWORDS.items()
        ],
    )
    scores = {lang: F.col(f"score_{lang}") for lang in STOPWORDS}
    langs = list(STOPWORDS)  # tie-break order
    expr = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            # >= for languages later in tie-break order, > would flip ties
            term = (
                scores[lang] >= scores[other]
                if langs.index(other) > langs.index(lang)
                else scores[lang] > scores[other]
            )
            cond = term if cond is None else (cond & term)
        expr = (
            F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
        )
    out_cols = [F.col("doc_id")] + [scores[lang].alias(f"score_{lang}") for lang in langs]
    return scored.select(*out_cols, expr.otherwise(F.lit(langs[0])).alias("lang_pred"))


def _quality_expr() -> Column:
    """Score expression over the staged (_norm, _toks, _pr) columns."""
    n_ws = F.size("_toks")
    sw = _tok_hits(F.col("_toks"), STOPWORDS["en"]) / n_ws.cast("double")
    mean_wl = F.length("_norm").cast("double") / n_ws.cast("double")
    return (
        0.4 * F.least(F.lit(1.0), n_ws.cast("double") / 100.0)
        + 0.3 * (1.0 - F.least(F.lit(1.0), F.col("_pr") * 5.0))
        + 0.2 * F.least(F.lit(1.0), sw * 10.0)
        + 0.1 * F.when((mean_wl >= 3.0) & (mean_wl <= 8.0), 1.0).otherwise(0.0)
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score: token-count saturation, low
    punctuation, healthy stopword density, sane mean word length."""
    c = F.col(text_col)
    staged = _staged_tokens(docs, text_col, extra=[punct_ratio(c).alias("_pr")])
    return staged.select("doc_id", _quality_expr().alias("quality_score"))


def with_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """All original columns + quality_score — the in-place form, so a
    quality FILTER is a narrow scan-side predicate instead of a
    doc_id self-join back onto the corpus (one shuffle saved per
    curation pass; at 100 TB the join shuffles the full text twice)."""
    c = F.col(text_col)
    staged = docs.select(
        "*", normalize_text(c).alias("_norm"), punct_ratio(c).alias("_pr")
    ).select("*", F.split("_norm", " ").alias("_toks"))
    return staged.select(*docs.columns, _quality_expr().alias("quality_score"))


def sentences_udtf():
    """Python UDTF (Spark 4) splitting a document into indexed
    sentences — the chunking primitive of a training-data pipeline
    expressed as a table function (SURVEY.md §2.8: the engine's UDTF
    surface; the reference has none).

    UDTFs run row-at-a-time in Python workers — the slow path, right
    only when one input row genuinely fans out to a variable number of
    structured rows AND the logic doesn't fit explode(split(...)).
    This sentence splitter COULD be pure-JVM (posexplode of the
    dot-split, trimmed, empties dropped) — the differential test in
    tests/test_operators.py pins exactly that equivalence; keep the
    UDTF for the API surface and as the template for real segmenters
    (model-based boundaries, markdown/code-block awareness) that
    cannot be a regex.

    Returns the decorated class; register with
    ``spark.udtf.register("sentences", sentences_udtf())`` or call it
    directly in a lateral join.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx: int, sentence: string")
    class SplitSentences:
        def eval(self, text: str):  # noqa: ANN001
            if text is None:
                return
            idx = 0
            for raw in text.split("."):
                s = raw.strip()
                if s:
                    yield idx, s
                    idx += 1

    return SplitSentences


def explode_sentences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, idx, sentence) via the sentences UDTF in a lateral join."""
    fn = sentences_udtf()
    return docs.lateralJoin(fn(F.col(text_col).outer())).select(
        "doc_id", "idx", "sentence"
    )


def char_entropy_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, entropy): Shannon entropy (nats) of each document's
    character distribution — a vocabulary-free quality signal
    (gibberish and single-char spam score low; natural prose clusters
    ~2.8-3.2).

    Explode to (doc, char) counts, then -sum(p*ln(p)) with each term
    integer-quantized (1e9) so the per-doc sum is order-free and
    reproduces exactly in a SQL oracle. The explode shuffle is keyed by
    (doc_id, char) — uniform at any corpus size.

    Plan-shape notes (each measured on the sf0.1 corpus):
    - the doc length is NOT computed alongside the explode — a scalar
      projection next to a Generate lands ABOVE it in the plan and
      re-evaluates per exploded row (~300x the regex work). The length
      is recovered for free as sum(char counts) over the doc.
    - an array-only formulation (nested higher-order lambdas, no
      shuffle) re-inlines the char array per distinct char: ~25x
      slower in codegen.
    """
    from pyspark.sql import Window

    from defimap_data_pipelines_spark.functions.text import char_array

    # the char explode multiplies rows ~300x, so pre-explode parallelism
    # is what matters: a single-row-group parquet file scans as ONE
    # task and serializes the whole pass. Fan out first when the scan
    # is narrower than the cluster; skip the shuffle when the input is
    # already well-partitioned (the 100 TB case).
    from defimap_data_pipelines_spark.functions.text import normalize_text

    # Docs that normalize to empty text are excluded (entropy of an
    # empty distribution is undefined): char_array returns [""] for
    # them (split of ""), which would silently count as n=1/entropy=0
    # here while the SQL oracle's n=length(s)=0 divides by zero.
    docs = docs.filter(F.length(normalize_text(F.col(text_col))) > 0)
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism, "doc_id")
    chars = docs.select(
        "doc_id", F.explode(char_array(F.col(text_col))).alias("_ch")
    )
    counts = chars.groupBy("doc_id", "_ch").agg(
        F.count(F.lit(1)).alias("_c")
    )
    n = F.sum("_c").over(Window.partitionBy("doc_id"))
    p = F.col("_c").cast("double") / n.cast("double")
    term = F.round(p * F.log(p) * 1_000_000_000.0).cast("long")
    return (
        counts.select("doc_id", term.alias("_t"))
        .groupBy("doc_id")
        .agg((-F.sum("_t") / 1_000_000_000.0).alias("entropy"))
    )


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Named document-quality rule flags in the style of the Gopher /
    MassiveText filters (Rae et al. 2021, "Scaling Language Models",
    table A1): word-count bounds, mean-word-length bounds, minimum
    alphabetic-word fraction, minimum distinct-stopword presence.
    Unlike ``quality_score`` (one composite number), each rule is a
    separately reportable boolean so a curation pipeline can audit WHY
    a document was dropped.

    Every rule compares in INTEGER arithmetic (``3*n <= sum_len``
    instead of ``sum_len/n >= 3.0``), so rule flags are exact and
    engine-independent; ``mean_word_len`` is reported as a plain
    quotient of those two integers. ``sum_len`` itself needs no fold:
    the normalized text is single-space joined, so the summed token
    length is ``length(norm) - (n_words - 1)``.

    Pure per-row JVM expressions over one normalize+split — no
    shuffle, no Python, scales as a mapper.
    """
    staged = _staged_tokens(docs, text_col)
    flags = _gopher_flag_columns()
    return staged.select("doc_id", *flags)


def _gopher_flag_columns() -> list:
    """The Gopher rule columns, over a frame staged with _norm/_toks."""
    n = F.size("_toks").cast("long")
    sum_len = (F.length("_norm") - n + F.lit(1)).cast("long")
    n_alpha = F.size(
        F.filter(F.col("_toks"), lambda t: t.rlike("[a-z]"))
    ).cast("long")
    stop_distinct = F.size(
        F.array_intersect(
            F.col("_toks"),
            F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to")]),
        )
    ).cast("long")
    rule_word_count = (n >= 50) & (n <= 100_000)
    rule_mean_len = (sum_len >= 3 * n) & (sum_len <= 10 * n)
    rule_alpha = (10 * n_alpha) >= (8 * n)
    rule_stop = stop_distinct >= 2
    return [
        n.alias("n_words"),
        (sum_len.cast("double") / n.cast("double")).alias("mean_word_len"),
        rule_word_count.alias("rule_word_count"),
        rule_mean_len.alias("rule_mean_word_len"),
        rule_alpha.alias("rule_alpha_fraction"),
        rule_stop.alias("rule_stopwords"),
        (rule_word_count & rule_mean_len & rule_alpha & rule_stop).alias(
            "passes_gopher"
        ),
    ]


def with_gopher_pass(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """All original columns + passes_gopher — the in-place form (same
    rationale as with_quality_score: a filter should be a scan-side
    predicate, not a doc_id self-join). Pure per-row expressions, so
    it works unchanged on a STREAMING frame (stateless projection)."""
    c = F.col(text_col)
    staged = docs.select("*", normalize_text(c).alias("_norm")).select(
        "*", F.split("_norm", " ").alias("_toks")
    )
    pass_col = _gopher_flag_columns()[-1]
    return staged.select(*docs.columns, pass_col)


def _counted_ngrams(toks: Column, n: int) -> Column:
    """ALL n-grams of a token array (NON-distinct — this is the
    counting twin of functions/text.word_shingles, which dedups for
    membership sketches; repetition metrics need multiplicities).
    Same zip-shift construction; documents shorter than n tokens
    yield an EMPTY array (not the padded single shingle)."""
    shifted = [toks] + [
        F.slice(toks, i + 1, 1_000_000) for i in range(1, n)
    ]
    # explicit aliases: arrays_zip names struct fields after its input
    # expressions, and a plain F.col input would otherwise surface as
    # its column name instead of the positional "0"/"1"/... keys
    zipped = F.arrays_zip(*[c.alias(str(i)) for i, c in enumerate(shifted)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )
    k = F.size(toks) - F.lit(n - 1)
    return F.when(k >= 1, F.slice(grams, 1, k)).otherwise(
        F.array().cast("array<string>")
    )


def gopher_repetition(
    docs: DataFrame,
    text_col: str = "text",
    top2_max_ppm: int = 200_000,
    dup3_max_ppm: int = 300_000,
) -> DataFrame:
    """The REPETITION half of the Gopher/MassiveText filters (Rae et
    al. 2021, table A1), complementing gopher_rules' length/lexicon
    half: documents dominated by a repeated phrase (boilerplate,
    keyword stuffing, decoding loops) are flagged by

    - ``top2_chars``: characters covered by the most frequent word
      2-gram (count * gram length; Gopher drops at > 20 % of text);
    - ``dup3_chars``: characters in word 3-grams occurring 2+ times
      (Gopher's duplicate-n-gram family; default threshold 30 %).

    Fractions are emitted as exact ppm via integer division —
    ``x * 1_000_000 div chars`` — so flags replay bit-identically in
    the SQL oracle (no float ratios anywhere).

    Scale shape — ZERO shuffles: the gram multiset is per-document,
    so counting never needs a (doc_id, gram) groupBy. Each row sorts
    its own gram array and a single ``aggregate`` fold walks the
    sorted runs (state = current gram, run length, running max/sum).
    Measured at sf0.1 (min-of-3): the explode + groupBy + rollup +
    join-back formulation this replaced ran 3.26 s; the fold runs
    2.07 s — and stays a pure mapper a streaming query could use.
    Interpreted folds beat codegen'd explode pipelines here for the
    same reason as functions/vector.py::dot_literal (lesson #2):
    no exchange, no hash tables, one pass over in-row data.
    """
    staged = _staged_tokens(docs, text_col)

    def run_fold(n: int, mode: str):
        # walk array_sort(grams) runs; finalize at each value change
        # and once more in the finish lambda for the trailing run
        fin_max = (
            "greatest(s.a, IF(s.p IS NULL, 0L,"
            " s.r * CAST(length(s.p) AS BIGINT)))"
        )
        fin_sum = (
            "s.a + IF(s.p IS NOT NULL AND s.r >= 2L,"
            " s.r * CAST(length(s.p) AS BIGINT), 0L)"
        )
        fin = fin_max if mode == "max" else fin_sum
        return F.expr(
            f"""
            aggregate(
              array_sort(_g{n}),
              named_struct('p', CAST(NULL AS STRING), 'r', 0L, 'a', 0L),
              (s, x) -> IF(s.p IS NOT NULL AND x = s.p,
                           named_struct('p', s.p, 'r', s.r + 1L, 'a', s.a),
                           named_struct('p', x, 'r', 1L, 'a', {fin})),
              s -> {fin})
            """
        )

    per_doc = staged.select(
        "doc_id",
        F.greatest(F.length("_norm"), F.lit(1)).cast("long").alias(
            "total_chars"
        ),
        _counted_ngrams(F.col("_toks"), 2).alias("_g2"),
        _counted_ngrams(F.col("_toks"), 3).alias("_g3"),
    ).select(
        "doc_id",
        run_fold(2, "max").alias("top2_chars"),
        run_fold(3, "sum").alias("dup3_chars"),
        "total_chars",
    )
    top2_ppm = F.expr("top2_chars * 1000000L div total_chars")
    dup3_ppm = F.expr("dup3_chars * 1000000L div total_chars")
    return per_doc.select(
        "doc_id",
        "top2_chars",
        "dup3_chars",
        top2_ppm.cast("long").alias("top2_ppm"),
        dup3_ppm.cast("long").alias("dup3_ppm"),
        (
            (top2_ppm <= F.lit(top2_max_ppm))
            & (dup3_ppm <= F.lit(dup3_max_ppm))
        ).alias("passes_repetition"),
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window
    preparation step for RAG indexing and long-document training:
    each document becomes ``ceil(max(n-size,0)/stride)+1`` chunks of
    up to ``size`` tokens, consecutive chunks overlapping by
    ``size - stride`` tokens so no span falls on a hard boundary.

    Pure scan-side: one normalize+split, a sequence+explode over the
    per-doc chunk count (integer formula ``1 + (max(n-size,0) +
    stride - 1) div stride`` — replayed exactly in SQL), and
    array_join slices. No shuffle; chunk ids are deterministic
    (doc_id, chunk_id), so re-chunking after an append only touches
    new docs.
    """
    assert 0 < stride <= size
    staged = _staged_tokens(docs, text_col)
    n = F.size("_toks").cast("long")
    m = F.greatest(n - F.lit(size), F.lit(0).cast("long"))
    k = F.lit(1).cast("long") + F.expr(
        f"(greatest(size(_toks) - {size}, 0) + {stride - 1})"
        f" div {stride}"
    )
    chunked = staged.select(
        "doc_id",
        n.alias("n_doc_tokens"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), k - 1)
        ).alias("chunk_id"),
        F.col("_toks"),
    )
    piece = F.slice(
        F.col("_toks"),
        (F.col("chunk_id") * stride + 1).cast("int"),
        size,
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        "n_doc_tokens",
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """APPLY a learned BPE merge list — the encode half whose training
    half is :func:`bpe_merge_pairs` (which surfaces the
    most-frequent adjacent pairs that become the next merges).

    Standard greedy BPE: each word starts as characters; repeatedly
    the ADJACENT pair with the best (lowest) merge rank collapses,
    until no listed pair remains. Earlier entries in ``merges`` thus
    take priority — the training-order semantics every BPE tokenizer
    implements.

    Implementation: Arrow-batched ``mapInPandas`` with the rank dict
    broadcast by closure — tokenization is an inherently sequential
    per-word loop the SQL algebra cannot express (which is also why
    the registered query is rows-only: no engine-neutral oracle
    exists; the lossless-decode property test carries the correctness
    weight instead). Scale shape: a pure mapper over the corpus —
    no shuffle, state = the merge table (KBs), exactly how tokenizer
    workers run in production pipelines.

    Output: (doc_id, n_words, n_tokens, tokens_md5) where tokens_md5
    hashes the full space-joined token stream of the normalized text
    ('|' joins symbols inside a word) — enough to pin the encoding
    byte-for-byte in tests without shipping token arrays around.
    """
    from collections.abc import Iterator

    import hashlib

    import pandas as pd

    rank = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best_pair, best_r = None, None
            for i in range(len(syms) - 1):
                r0 = rank.get((syms[i], syms[i + 1]))
                if r0 is not None and (best_r is None or r0 < best_r):
                    best_pair, best_r = (syms[i], syms[i + 1]), r0
            if best_pair is None:
                break
            # collapse ALL occurrences of the winning pair, left to
            # right (the standard BPE apply step)
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best_pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["_norm"]):
                words = str(text).split(" ")
                toks: list[str] = []
                for w in words:
                    toks.append("|".join(encode_word(w)))
                stream = " ".join(toks)
                rows.append(
                    (
                        int(did),
                        len(words),
                        sum(t.count("|") + 1 for t in toks),
                        hashlib.md5(stream.encode()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_words", "n_tokens", "tokens_md5"],
            )

    staged = docs.select(
        "doc_id", normalize_text(F.col(text_col)).alias("_norm")
    )
    return staged.mapInPandas(
        run, "doc_id long, n_words long, n_tokens long, tokens_md5 string"
    )


def bpe_merge_pairs(
    docs: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """The counting step of one BPE-training merge iteration: frequency
    of every adjacent character pair WITHIN words across the corpus,
    top-``top_k`` by count (the pair a byte-pair-encoding trainer would
    merge next), ties broken by pair string.

    Scale shape: explode words, then explode each word's adjacent char
    pairs (per-row transform over a sequence — no corpus-wide
    structure), one map-side-combined groupBy on the pair, and a
    TakeOrderedAndProject top-k (each partition ships only its local
    top-k to the driver — never a global sort). This is the inner loop
    of distributed BPE training; iterating it with a merge-apply step
    is the full trainer.
    """
    words = docs.select(
        F.explode(ws_tokens(F.col(text_col))).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return counts.orderBy(F.col("n").desc(), F.col("pair")).limit(top_k)


CLASSIFIER_DIM = 256


def classifier_weights(dim: int = CLASSIFIER_DIM) -> list[int]:
    """Deterministic per-bucket weights in micro-units (integers in
    [-1e6, 1e6]), md5-derived — a stand-in for TRAINED weights (no
    model training in the sandbox; a fastText/DCLM-style quality
    classifier would drop its learned vector in here unchanged)."""
    import hashlib

    out = []
    for i in range(dim):
        h = int.from_bytes(hashlib.md5(f"qw|{i}".encode()).digest()[:4],
                           "big")
        out.append(int(h % 2_000_001) - 1_000_000)
    return out


def quality_classifier(
    docs: DataFrame, text_col: str = "text", dim: int = CLASSIFIER_DIM
) -> DataFrame:
    """Model-based quality scoring — the hashed-bag-of-words linear
    classifier shape used by fastText-style corpus filters (DCLM,
    FineWeb-Edu): each token hashes into one of ``dim`` buckets, the
    document logit is the mean bucket weight, keep = logit >= 0.

    Engineering over learning: the weights here are a deterministic
    md5 stand-in (see classifier_weights), but the Spark plumbing is
    the real thing — the weight vector rides into the plan as ONE
    parsed literal array (broadcast-free: it is part of the task
    binary), feature hashing is the md5 bucket shared with
    operators/sampling.py (cross-engine exact), and scoring is an
    integer fold (micro-unit weights summed as longs), so the
    keep/drop decision compares integers and is engine-independent.
    Per-row expressions only — no shuffle, no Python, scales as a
    mapper; swapping in trained weights changes no plan shape.
    """
    staged = _staged_tokens(docs, text_col)
    w = classifier_weights(dim)
    arr = "array(" + ",".join(f"{x}L" for x in w) + ")"
    acc = F.expr(
        f"aggregate(_toks, 0L, (acc, t) -> acc + element_at({arr},"
        f" CAST(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)"
        f" % {dim} AS INT) + 1))"
    )
    n = F.size("_toks")
    return staged.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(
            acc.cast("double") / 1_000_000.0 / n.cast("double"), 6
        ).alias("logit"),
        (acc >= 0).alias("keep"),
    )


# regex stages of the HTML -> text extraction, shared verbatim by the
# Spark expressions and the DuckDB oracle replay. Dialect-portability
# rules: (?is) flags, non-greedy spans and simple classes parse in
# both Java regex and RE2, but RE2 has NO backreferences — hence the
# script/style pair is written as explicit alternation, not
# <(script|style)...</\1>
HTML_DROP_BLOCKS = (
    r"(?is)<script\b[^>]*>.*?</script\s*>|<style\b[^>]*>.*?</style\s*>"
)
HTML_TAG = r"(?s)<[^>]*>"
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST: it is the escape's escape
]


def html_to_text(col: Column) -> Column:
    """Boilerplate-free text from raw HTML, as pure JVM expressions:
    drop <script>/<style> blocks (content and all), strip remaining
    tags to spaces, decode the common entities (&amp; decoded LAST so
    '&amp;lt;' correctly yields the literal '&lt;'), collapse
    whitespace. The trafilatura-lite step of crawl ingestion — runs
    scan-side at WARC-payload scale with no Python worker."""
    out = F.regexp_replace(col, HTML_DROP_BLOCKS, " ")
    out = F.regexp_replace(out, HTML_TAG, " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_to_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`html_to_text` for oracle SQL."""
    out = f"regexp_replace({expr}, '{HTML_DROP_BLOCKS}', ' ', 'g')"
    out = f"regexp_replace({out}, '{HTML_TAG}', ' ', 'g')"
    for ent, rep in HTML_ENTITIES:
        lit = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a
    w-window over the hash sequence, select each window's MINIMUM; the
    distinct selected hashes are the fingerprint set. Guarantees every
    shared run of >= w+k-1 tokens between two documents shares at
    least one fingerprint, while storing only ~2/(w+1) of the hashes —
    the density/recall contract that made it the plagiarism-detection
    standard.

    Implementation is a pure scan-side projection — memory lesson #5:
    per-row sequence work never needs explode+groupBy. The k-gram
    array, its 60-bit md5 hashes, the window minima (transform over a
    position sequence + array_min of slices) and the distinct-set
    reduction all stay inside one whole-stage-codegen'd row mapper;
    zero exchanges, streaming-legal. Cost is O(len * w) min-scans per
    row (w is 4; the O(len) two-pointer deque doesn't fold into SQL).

    Returns (doc, n_grams, n_fp, fp_sum) for documents with at least
    one full window (n_grams >= w); fp_sum folds the fingerprint set
    as sum(h % 1000000007) — exact int64, replayable in SQL.
    """
    from defimap_data_pipelines_spark.functions.text import ws_tokens

    toks = ws_tokens(F.col(text_col))
    staged = docs.select(
        F.col(doc_col).alias("doc"),
        F.transform(
            _counted_ngrams(toks, k),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                "long"
            ),
        ).alias("_h"),
    )
    mins = F.expr(
        f"transform(sequence(1, size(_h) - {w} + 1),"
        f" p -> array_min(slice(_h, p, {w})))"
    )
    return (
        staged.filter(F.size("_h") >= w)
        .select(
            "doc",
            F.size("_h").cast("long").alias("n_grams"),
            F.array_distinct(mins).alias("_fp"),
        )
        .select(
            "doc",
            "n_grams",
            F.size("_fp").cast("long").alias("n_fp"),
            F.expr(
                "aggregate(_fp, 0L, (acc, x) -> acc + x % 1000000007)"
            ).alias("fp_sum"),
        )
    )


def zipf_fit(
    tokens: DataFrame, token_col: str = "token", top_k: int = 100
) -> DataFrame:
    """Fit a Zipf law to the corpus token-frequency distribution:
    OLS of ln(count) on ln(rank) over the ``top_k`` most frequent
    tokens (rank 1 = most frequent, ties broken by token text so the
    rank is engine-independent). Returns one row (k, slope,
    intercept, r2); natural text lands slope ~= -1 — a corpus whose
    exponent drifts far off is boilerplate-heavy or deduplication-
    damaged, which makes this a one-number corpus-health probe.

    Both regression coordinates are micro-quantized integers
    (ln(rank), ln(cnt) ~= 4.6e6 / 1.2e7 at 1e6 — their cross-products
    stay under ~1e16 for k <= 1000), so every OLS sum is exact int64
    and the slope/intercept/r2 are single double expressions at the
    end; no cross-row double accumulation. The top-k cut is a count
    (desc), token (asc) sort — fully ordered, no hash ties.
    """
    ranked = (
        tokens.groupBy(F.col(token_col).alias("_t"))
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_t"))
        .limit(top_k)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("_c").desc(), F.col("_t"))
    xy = ranked.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * 1000000.0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("_c").cast("double")) * 1000000.0)
        .cast("long")
        .alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
    )
    k = F.col("k")
    num = k * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    denx = k * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    deny = k * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = num.cast("double") / F.when(denx != 0, denx).cast("double")
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / k / 1000000.0
    # guard each factor separately: denx * deny as int64 would
    # overflow (both ~1e17 at k = 100, micro-quantized)
    r2 = (num.cast("double") * num.cast("double")) / (
        F.when((denx != 0) & (deny != 0), denx).cast("double")
        * deny.cast("double")
    )
    return agg.select(
        "k",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )


def feature_hashing(
    docs: DataFrame,
    id_col: str,
    token_col: str,
    n_buckets: int = 1024,
) -> DataFrame:
    """The hashing trick as an EXPLODED sparse matrix: each token is
    md5-hashed to a bucket in [0, n_buckets) plus a +-1 sign (the
    signed construction of Weinberger et al., which keeps collision
    noise zero-mean), and per (doc, bucket) the signed counts sum.
    Returns (id, bucket, weight) rows with weight != 0 — the COO form
    every downstream trainer can pivot, and the form a SQL oracle
    can value-check (a vector column couldn't be hash-compared
    across engines).

    Bucket = low 60 md5 bits mod n_buckets, sign = bit 60 of the
    same parse — ONE md5 per token occurrence (the ams_f2 slicing
    lesson). Everything else is an exploded groupBy; the shuffle key
    (id, bucket) is as fine-grained as the data allows.
    """
    word = F.conv(
        F.substring(F.md5(F.col(token_col)), 1, 15), 16, 10
    ).cast("long")
    sign = (
        F.shiftright(
            F.conv(
                F.substring(F.md5(F.col(token_col)), 16, 1), 16, 10
            ).cast("long"),
            3,
        )
        * 2
        - 1
    )
    return (
        docs.select(
            F.col(id_col).alias("id"),
            (word % n_buckets).cast("long").alias("bucket"),
            sign.cast("long").alias("_s"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("_s").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def heaps_fit(
    docs: DataFrame,
    id_col: str,
    token_col: str,
    n_points: int = 8,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(T) ~ K * T^beta, with
    V = distinct tokens and T = total token occurrences, measured at
    ``n_points`` evenly spaced document checkpoints and fit by
    log-log OLS (zipf_fit's twin — Zipf is the frequency snapshot,
    Heaps the accretion curve; for natural text beta ~ 0.4-0.6 and
    the two exponents are theoretically linked). Returns one row
    (points, beta, intercept, r2): a corpus whose beta collapses
    toward 0 has stopped contributing new vocabulary — the
    diminishing-returns signal a data-acquisition loop watches.

    Distributed shape: token first-occurrences and per-doc counts
    are two aggregates over one tokenized scan; each checkpoint's
    (T, V) is a conditional count over the VOCAB-sized frame (never
    re-scanning raw text per point). Same micro-quantized exact-OLS
    discipline as zipf_fit.
    """
    from pyspark.sql.window import Window

    # doc index from the DOC-grain distinct frame, broadcast back —
    # a dense_rank directly over the token rows would be a global
    # single-partition window over the row grain
    ids = docs.select(F.col(id_col).alias("_id")).distinct().select(
        "_id",
        F.row_number()
        .over(Window.orderBy("_id"))
        .cast("long")
        .alias("_idx"),
    )
    toks = (
        docs.select(
            F.col(id_col).alias("_id"), F.col(token_col).alias("_t")
        )
        .join(F.broadcast(ids), "_id")
        .select("_idx", "_t")
        .cache()  # first-occurrence agg + per-doc counts
    )
    n_docs = toks.agg(F.max("_idx").alias("_nd"))
    firsts = toks.groupBy("_t").agg(F.min("_idx").alias("_first"))
    per_doc = toks.groupBy("_idx").agg(
        F.count(F.lit(1)).cast("long").alias("_tc")
    )
    cps = (
        n_docs.select(
            F.explode(
                F.sequence(F.lit(1), F.lit(n_points))
            ).alias("_i"),
            "_nd",
        )
        .select("_i", F.expr("_i * _nd div " + str(n_points)).alias("_c"))
    )
    v = (
        firsts.crossJoin(F.broadcast(cps))
        .filter(F.col("_first") <= F.col("_c"))
        .groupBy("_i")
        .agg(F.count(F.lit(1)).cast("long").alias("_v"))
    )
    t = (
        per_doc.crossJoin(F.broadcast(cps))
        .filter(F.col("_idx") <= F.col("_c"))
        .groupBy("_i")
        .agg(F.sum("_tc").alias("_T"))
    )
    xy = v.join(t, "_i").select(
        F.round(F.log(F.col("_T").cast("double")) * 1000000.0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("_v").cast("double")) * 1000000.0)
        .cast("long")
        .alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("long").alias("points"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
    )
    k = F.col("points")
    num = k * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    denx = k * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    deny = k * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = num.cast("double") / F.when(denx != 0, denx).cast("double")
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / k / 1000000.0
    r2 = (num.cast("double") * num.cast("double")) / (
        F.when((denx != 0) & (deny != 0), denx).cast("double")
        * deny.cast("double")
    )
    return agg.select(
        "points",
        F.round(slope, 9).alias("beta"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )

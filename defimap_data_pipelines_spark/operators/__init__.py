"""DataFrame -> DataFrame operators: the engine's public surface."""

from defimap_data_pipelines_spark.operators.growth import (  # noqa: F401
    growth_of_10k,
    price_gotk,
)
from defimap_data_pipelines_spark.operators.tvl import tvl  # noqa: F401
from defimap_data_pipelines_spark.operators.trailing import (  # noqa: F401
    compounded_return,
    trailing_returns,
    trailing_returns_naive,
)
from defimap_data_pipelines_spark.operators.risk import risk_metrics  # noqa: F401
from defimap_data_pipelines_spark.operators.cleaning import (  # noqa: F401
    fillna_zero,
    interpolate_linear,
)
from defimap_data_pipelines_spark.operators.asof import asof_join  # noqa: F401
from defimap_data_pipelines_spark.operators.skew import salted_agg  # noqa: F401
from defimap_data_pipelines_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from defimap_data_pipelines_spark.operators.similarity import (  # noqa: F401
    cosine_pairs,
    cosine_topk,
    ivf_topk,
    lsh_topk,
)
from defimap_data_pipelines_spark.operators.textops import (  # noqa: F401
    lang_id,
    quality_score,
    text_stats,
)
from defimap_data_pipelines_spark.operators.multimodal import (  # noqa: F401
    decode_media,
    frame_sample,
)
from defimap_data_pipelines_spark.operators.graph import (  # noqa: F401
    component_sizes,
    connected_components,
)
from defimap_data_pipelines_spark.operators.ranking import (  # noqa: F401
    bm25_scores,
    tfidf_top_terms,
    unigram_perplexity,
)
from defimap_data_pipelines_spark.operators.rolling import (  # noqa: F401
    pareto_frontier,
    rolling_zscore_anomalies,
    weighted_moving_avg,
)
from defimap_data_pipelines_spark.operators.quantiles import (  # noqa: F401
    exact_grouped_quantile,
)
from defimap_data_pipelines_spark.operators.corpus import (  # noqa: F401
    clean_corpus,
    curation_report,
    dedup_clusters,
)

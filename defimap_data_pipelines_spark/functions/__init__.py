"""Column-level expression helpers (all JVM-side, codegen-friendly)."""

from defimap_data_pipelines_spark.functions.scalar import (  # noqa: F401
    apr_to_apy,
    nullif_zero,
    quantize,
)
from defimap_data_pipelines_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    dot,
    l2_norm,
)

"""Sources & sinks: parquet lakehouse conventions, JDBC, ingestion."""

from defimap_data_pipelines_spark.sources.parquet import (  # noqa: F401
    TESTDATA_TABLES,
    read_table,
)
from defimap_data_pipelines_spark.sources.writers import (  # noqa: F401
    idempotent_replace_range,
    write_partitioned,
)

from parquet_merger_spark.sources.catalog import (
    ParquetFileEntry,
    file_catalog_df,
    probe_schema,
    probe_schemas,
    scan_folders,
)

__all__ = [
    "ParquetFileEntry",
    "scan_folders",
    "probe_schema",
    "probe_schemas",
    "file_catalog_df",
]

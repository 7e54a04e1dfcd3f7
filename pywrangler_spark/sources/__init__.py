"""Sources & sinks."""

from pywrangler_spark.sources.blobs import read_binary_files, read_text_shards
from pywrangler_spark.sources.bucketed import read_table, write_bucketed_table
from pywrangler_spark.sources.layout import (
    fit_zorder_boundaries,
    zorder_code,
    zorder_layout,
)
from pywrangler_spark.sources.formats import (
    read_csv,
    read_json,
    read_orc,
    write_clustered_parquet,
    write_table,
)
from pywrangler_spark.sources.parquet import (
    TABLE_NAMES,
    load_tables,
    read_parquet,
    sf_path,
    sf_table,
    validate_sf_dir,
)

__all__ = [
    "TABLE_NAMES",
    "fit_zorder_boundaries",
    "zorder_code",
    "zorder_layout",
    "read_parquet",
    "load_tables",
    "sf_path",
    "sf_table",
    "validate_sf_dir",
    "read_binary_files",
    "read_text_shards",
    "read_csv",
    "read_json",
    "read_orc",
    "write_table",
    "write_clustered_parquet",
    "write_bucketed_table",
    "read_table",
]

from .errors import TRANSIENT, PERMANENT, classify_error, is_cross_partition_error
from .parquet_sink import partition_value_columns, read_raw_table, write_raw_parquet

__all__ = [
    "TRANSIENT",
    "PERMANENT",
    "classify_error",
    "is_cross_partition_error",
    "partition_value_columns",
    "read_raw_table",
    "write_raw_parquet",
]

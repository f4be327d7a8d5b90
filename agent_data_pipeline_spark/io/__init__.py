from .sources import read_csv, read_jdbc, read_json, read_parquet, sample_csv_head
from .sinks import write_csv, write_jdbc, write_parquet
from .tables import TABLE_NAMES, load_tables

__all__ = [
    "read_csv",
    "read_json",
    "read_parquet",
    "read_jdbc",
    "sample_csv_head",
    "write_csv",
    "write_jdbc",
    "write_parquet",
    "TABLE_NAMES",
    "load_tables",
]

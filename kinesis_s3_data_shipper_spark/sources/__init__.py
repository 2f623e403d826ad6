"""Sources: parquet table loaders; ``kinesis``: the landing-dir reader."""

from .tables import TABLE_NAMES, load_table, register_views  # noqa: F401

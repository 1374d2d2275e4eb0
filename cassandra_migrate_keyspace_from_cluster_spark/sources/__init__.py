from .parquet_keyspace import (  # noqa: F401
    TABLES,
    load_table,
    parquet_row_count,
    register_views,
    table_path,
)

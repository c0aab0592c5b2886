from alternating_least_squares_spark.sources.catalog import (  # noqa: F401
    TABLES,
    load_table,
    load_tables,
    read_csv,
    read_parquet,
    write_csv,
    write_parquet,
)

from alternating_least_squares_spark.sources.catalog import (  # noqa: F401
    TABLES,
    load_table,
    read_csv,
    write_csv,
    write_parquet,
)

"""Custom connector via the Spark 4 Python Data Source API.

The reference's only sources are CSV files (``data.clj:5-15``); a real
engine also needs an extension point for NEW sources. Spark 4 exposes
exactly that to Python (``pyspark.sql.datasource``): a DataSource
declares a schema and hands out ``InputPartition`` objects, and each
executor pulls only its partition's rows through ``reader.read`` — the
same partitioned-pull contract a JDBC/Kafka/object-store connector
implements, so the shape scales: N partitions stream independently,
nothing funnels through the driver.

``RangeGenSource`` here is a deterministic synthetic-data generator
(the "load generator" connector every benchmark suite carries): rows
are a pure function of the row id, so the output is reproducible
across runs/partitionings and — unusually for a connector — exactly
oracle-checkable against SQL (``x07_python_datasource``).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# Knuth's multiplicative-hash constant: score is a cheap deterministic
# pseudo-random in [0, 1) reproducible in any engine with 64-bit ints.
_MIX = 2654435761


class RangeGenSource(DataSource):
    """``spark.read.format("rangegen").option("n", N)`` → N rows of
    ``(id, bucket, score)``; ``partitions`` controls the split count."""

    @classmethod
    def name(cls) -> str:
        return "rangegen"

    def schema(self) -> str:
        return "id bigint, bucket bigint, score double"

    def reader(self, schema) -> "RangeGenReader":
        return RangeGenReader(self.options)


class RangeGenReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.n_partitions = int(options.get("partitions", 8))
        if self.n_partitions < 1:
            raise ValueError(
                f"rangegen: partitions must be >= 1 (got {self.n_partitions})"
            )

    def partitions(self) -> Sequence[InputPartition]:
        # Contiguous id ranges: each executor materializes only its
        # slice; adding partitions scales the source horizontally.
        if self.n <= 0:
            # an empty range is a valid (empty) source, not a planning
            # crash: step would be 0 and range(0, 0, 0) raises
            return [InputPartition((0, 0))]
        step = -(-self.n // self.n_partitions)
        return [
            InputPartition((lo, min(lo + step, self.n)))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: InputPartition) -> Iterator:
        """Arrow-vectorized partition read: Spark 4's Python Data
        Source API accepts ``pyarrow.RecordBatch`` yields, which skip
        per-row pickling entirely (one columnar buffer per batch
        crosses the Python↔JVM boundary). Rows stay a pure function of
        the row id."""
        import numpy as np
        import pyarrow as pa

        lo, hi = partition.value
        # bounded chunks, not one partition-sized batch: the streaming
        # row iterator this replaces had O(1) task memory and a
        # billion-row partition must not regress to an O(partition)
        # buffer
        chunk = 1_000_000
        # (i * _MIX) % 1e6 computed in modular form: i * _MIX overflows
        # int64 for i >= ~3.47e9 and numpy WRAPS silently, which would
        # fork the scores from the SQL oracle's. (i % 1e6) *
        # (_MIX % 1e6) % 1e6 is congruent and peaks at ~4.4e11.
        mix_mod = _MIX % 1_000_000
        for start in range(lo, hi, chunk):
            ids = np.arange(start, min(start + chunk, hi), dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(ids % 24, type=pa.int64()),
                    pa.array(
                        ((ids % 1_000_000) * mix_mod % 1_000_000)
                        / 1_000_000.0,
                        type=pa.float64(),
                    ),
                ],
                names=["id", "bucket", "score"],
            )


def register(spark) -> None:
    """Idempotent registration (re-registering the same name is fine)."""
    spark.dataSource.register(RangeGenSource)

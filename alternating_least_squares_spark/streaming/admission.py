"""Streaming corpus admission: near-dup gate on an arriving document
feed (net-new vs the reference — its ETL is batch CSV only,
`core.clj:138-197`; this is the streaming face of the LLM-pipeline
dedup ladder).

The shape: document files land in waves; each ``availableNow`` run
picks up ONLY the unseen files (checkpointed file-source ledger, same
machinery as :func:`..events.incremental_file_ingest`) and admits each
micro-batch against the CURRENT corpus = the static base corpus plus
everything admitted by earlier batches — so a doc that near-duplicates
a previously-admitted doc is rejected even though neither is in the
base corpus. Admission itself is
:func:`...functions.dedup.incremental_near_dup_admission`: batch band
hashes probe the corpus band index with one batch→corpus equi-join;
the corpus is never re-paired with itself.

At 100 TB the admitted-docs band index would be MATERIALIZED and
appended per batch (signatures are computed once per admitted doc
anyway); re-deriving it from the admitted sink per micro-batch, as
here, keeps the test surface small while exercising identical join
shapes. The plain append sink is at-least-once under a mid-batch
crash; pair with the snapshot MERGE sink for exactly-once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from alternating_least_squares_spark.functions.dedup import (
    incremental_near_dup_admission,
)
from alternating_least_squares_spark.streaming.events import (
    run_available_now,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def admit_stream_run(
    spark: SparkSession,
    corpus: DataFrame,
    src_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> int:
    """One ``availableNow`` admission run over the unseen files in
    ``src_dir``; admitted docs append to ``sink_dir``. Returns the
    number of docs admitted by THIS run."""
    admitted_counts: list[int] = []

    def _admit(batch_df: DataFrame, _bid: int) -> None:
        state = corpus
        if os.path.isdir(sink_dir):
            state = state.unionByName(
                spark.read.schema(DOCS_SCHEMA).parquet(sink_dir)
            )
        admitted = incremental_near_dup_admission(
            state,
            batch_df,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
        )
        admitted.write.mode("append").parquet(sink_dir)
        admitted_counts.append(admitted.count())

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(src_dir)
    run_available_now(stream, checkpoint_dir, _admit)
    return sum(admitted_counts)

"""Streaming CDC: the reference's rerun loop as a real stream.

Mapping (SURVEY.md §2.9):

- watermark table ``ETL_WATERMARKS``      → checkpoint offsets
- per-run delta filter                    → file-source micro-batch
- staging + Oracle MERGE per run          → ``foreachBatch(merge)``
- watermark-after-success                 → checkpoint commit after
                                            batch success (exactly-once
                                            state, idempotent merge)

``run_cdc_stream`` watches a directory of CDC-shaped parquet files and
folds every micro-batch into the target with the same
``merge_soft_delete`` semantics the batch pipeline uses — one operator,
both execution modes. ``availableNow`` trigger drains what exists and
stops (the testable mode); continuous deployment drops the trigger.

Scale: the file source lists incrementally (maxFilesPerTrigger bounds
batch size); each micro-batch merge is one shuffle keyed by PK. A
non-empty batch goes through ``ParquetTargetStore.merge`` — the one
locked heal→read→merge→stage-and-swap the batch pipeline also uses
(``sources.locking.swap_dir``); an empty one is skipped, so it never
rewrites the target. A crash between write and checkpoint commit
replays the batch, which the idempotent merge absorbs (same
at-least-once + idempotency contract as the reference,
`/root/reference/README.md:287`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from oracle_to_oracle_data_integration_pipeline_spark.operators.cdc import latest_per_key
from oracle_to_oracle_data_integration_pipeline_spark.plans.pipeline import ParquetTargetStore


def run_cdc_stream(
    spark: SparkSession,
    source_dir: str,
    target: ParquetTargetStore,
    table: str,
    pk: list[str],
    checkpoint_dir: str,
    schema=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Stream CDC files from ``source_dir`` into ``target``/``table``.

    Returns the (already stopped, if ``available_now``) StreamingQuery.
    """
    if schema is None:
        schema = spark.read.parquet(source_dir).schema

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        target.merge(table, latest_per_key(batch_df, pk), pk)

    writer = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()

"""Incremental (streaming) star-schema load — SURVEY §2.9 seed.

The reference's deployment model is "run the batch pipeline repeatedly;
each run appends a timestamped snapshot" (``/root/reference/
main.py:44,159-177``). This module makes that loop explicit: a file
stream of scrape-shaped raw rows, loaded micro-batch by micro-batch
through the SAME set-based pipeline (transform → dim upsert → FK
resolve → fact append) via ``foreachBatch``.

``foreachBatch`` is the right tool here (not a plain streaming sink)
because the load is multi-table and stateful-on-disk: each micro-batch
must upsert two dimensions and append facts under one commit, which is
imperative logic over a batch DataFrame. State between batches lives in
the warehouse itself (the dims), so the stream restarts cleanly from a
checkpoint with no in-memory state to rebuild.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from rpa_etl_investing_spark.etl.pipeline import RAW_SCRAPE_SCHEMA, load_star_schema


def incremental_load(
    spark: SparkSession,
    raw_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Stream scrape-shaped NDJSON rows from ``raw_dir`` into the star
    schema at ``warehouse``, one micro-batch per arriving file batch.

    Each batch is stamped with a deterministic per-batch timestamp
    (epoch + batch_id minutes) standing in for the reference's
    ``datetime.utcnow`` (``main.py:44``) so re-runs stay comparable.
    """

    def load_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stamp = _dt.datetime(2024, 1, 1) + _dt.timedelta(minutes=batch_id)
        load_star_schema(spark, batch_df, warehouse, stamp)

    stream = (
        spark.readStream.schema(RAW_SCRAPE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(raw_dir)
    )
    return (
        stream.writeStream.foreachBatch(load_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )

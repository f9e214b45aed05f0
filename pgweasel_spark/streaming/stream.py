"""Incremental runs over a growing input directory.

The stream only discovers files. A ``binaryFile`` file stream over the
input directory, checkpointed under ``<out_root>/_checkpoint``, yields the
paths that arrived since the last call; each micro-batch re-opens the days
those files touch in the manifest and calls the batch ``pipeline.run``.
A streamed output is therefore the batch output (routed table, the six
stats reports and the manifest), and a late file for a completed day
re-routes that day: late data is compensated exactly, not dropped. A
replayed micro-batch re-routes the same days, so a run is idempotent
without a file-sink log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pgweasel_spark.plans import pipeline
from pgweasel_spark.plans.manifest import Manifest


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    input_format: str = "parquet",
) -> list[pipeline.PipelineResult]:
    """Route every file under ``input_dir`` that no earlier call saw,
    then stop (``trigger(availableNow=True)``). A catch-up over many new
    files is one micro-batch. Returns each micro-batch's
    ``PipelineResult``; none when no file is new."""
    results = []

    def route_batch(files: DataFrame, batch_id: int) -> None:
        paths = [r["path"] for r in files.collect()]
        if not paths:
            return
        rows = pipeline.read_input(spark, paths, input_format)
        manifest = Manifest.load(os.path.join(out_root, "manifest.json"))
        for day in pipeline.input_days(rows):
            manifest.days.pop(day, None)
        manifest.save()
        results.append(
            pipeline.run(spark, input_dir, out_root, input_format=input_format)
        )

    query = (
        spark.readStream.format("binaryFile")
        # the binaryFile source's fixed schema; only ``path`` is read
        .schema("path string, modificationTime timestamp, length long, content binary")
        # the default (7d) skips, for good, a new file whose modification
        # time is a week older than the newest file's: a late file copied
        # with its original time would be dropped
        .option("maxFileAge", "36500d")
        .load(input_dir)
        .select("path")
        .writeStream.foreachBatch(route_batch)
        .option("checkpointLocation", os.path.join(out_root, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return results

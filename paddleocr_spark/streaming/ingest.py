"""Streaming recrawl ingest into the snapshot warehouse — exactly-once.

The file sink's commit log cannot guard a custom table format, so the
standard Structured Streaming recipe applies: ``foreachBatch`` + an
IDEMPOTENT write keyed on the micro-batch id. Each warehouse commit
records the batch id in its snapshot entry; a replayed batch (failure
between the table commit and the checkpoint advance — the at-least-once
window foreachBatch leaves open) finds its id already committed and
skips, so every row lands in exactly one snapshot.

This is the streaming twin of the batch job's lineage/anti-join resume
(plans/job.py) on the ingest side of the pipeline: crawl files arrive →
micro-batch → partitioned snapshot upsert; downstream extraction then
reads a PINNED snapshot (plans/job.py warehouse path), so an ingest
running concurrently never changes the rows an extraction run sees.
``jobs/daily.py`` runs it as its first step.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from paddleocr_spark.sources import warehouse as W
from paddleocr_spark.sources.readers import PAGES_SCHEMA, latest_crawl


def committed_batch_ids(table_dir: str) -> set[int]:
    return {
        s["batch_id"] for s in W.snapshots(table_dir) if s.get("batch_id") is not None
    }


def ingest_recrawl_stream(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Recrawl ingestion: each micro-batch UPSERTS (replace-by-key)
    instead of appending, so a url recrawled today shadows yesterday's
    version — the table converges to one live version per url while
    old snapshots keep the full history (time travel across recrawls).

    Exactly-once via the batch-id guard; the id rides the upsert's
    single MERGE commit (delete + append in one snapshot, so there is
    no partial state to crash into — a restart either replays the whole
    batch or skips it).

    Within one micro-batch only the newest capture of each url is kept
    (deterministic max-warc_ts pick), because an upsert batch must
    carry at most one version per key.

    Blocks until the availableNow drain finishes, however long the
    day's landing dir takes; a failed micro-batch re-raises here.
    """

    def commit(batch_df, batch_id: int) -> None:
        if batch_id in committed_batch_ids(table_dir):
            return
        W.upsert(latest_crawl(batch_df), table_dir, batch_id=batch_id)

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

"""Streaming ingest into the snapshot warehouse — exactly-once.

The file sink's commit log cannot guard a custom table format, so the
standard Structured Streaming recipe applies: ``foreachBatch`` + an
IDEMPOTENT write keyed on the micro-batch id. Each warehouse commit
records the batch id in its snapshot entry; a replayed batch (failure
between the table commit and the checkpoint advance — the at-least-once
window foreachBatch leaves open) finds its id already committed and
skips, so every row lands in exactly one snapshot.

This is the streaming twin of the batch job's lineage/anti-join resume
(plans/job.py) on the ingest side of the pipeline: crawl files arrive →
micro-batch → partitioned snapshot append; downstream extraction then
reads a PINNED snapshot (plans/job.py warehouse path), so an ingest
running concurrently never changes the rows an extraction run sees.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources import warehouse as W
from paddleocr_spark.sources.readers import PAGES_SCHEMA
from paddleocr_spark.streaming.events import await_drain


def committed_batch_ids(table_dir: str) -> set[int]:
    return {
        s["batch_id"] for s in W.snapshots(table_dir) if s.get("batch_id") is not None
    }


def idempotent_append(batch_df, batch_id: int, table_dir: str) -> bool:
    """Commit one micro-batch as a snapshot unless its batch id is
    already in the snapshot log (the foreachBatch replay guard).
    Returns True iff a commit happened."""
    if batch_id in committed_batch_ids(table_dir):
        return False
    W.append(batch_df, table_dir, batch_id=batch_id)
    return True


def ingest_pages_stream(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain all currently-available page files into the warehouse,
    one snapshot per micro-batch, idempotent on replay."""
    src = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    q = (
        src.writeStream.foreachBatch(
            lambda df, bid: idempotent_append(df, bid, table_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)


def ingest_warc_stream(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming crawl ingestion straight off WARC members: a landing
    dir of ``*.warc`` / ``*.warc.gz`` files is watched by the
    binaryFile stream source (file-level exactly-once tracking — each
    member enters exactly one micro-batch), records are parsed by the
    SAME Arrow parser the batch reader uses (sources/warc.py), lang is
    sniffed off the html bytes, and each micro-batch commits as one
    warehouse snapshot, idempotent on replay via the batch-id guard.

    This is the real front door of the north-star pipeline: crawlers
    drop members into the landing dir; this drains them into the
    bucketed/partitioned pages table; extraction then reads a PINNED
    snapshot.
    """
    from pyspark.sql import types as T

    from paddleocr_spark.sources import warc as Warc

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    reader = spark.readStream.format("binaryFile").schema(bin_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.load(f"{input_dir}/*.warc*")

    def commit(batch_df, batch_id: int) -> None:
        pages = batch_df.select("path", "content").mapInPandas(
            Warc._parse_pages, schema=Warc.PAGES_SCHEMA
        )
        pages = Warc.with_sniffed_lang(pages).withColumn(
            "text", F.lit(None).cast("string")
        ).select("url", "warc_ts", "html", "text", "lang")
        idempotent_append(pages, batch_id, table_dir)

    q = (
        src.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)


def extract_pages_stream_warehouse(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming extraction straight into a snapshot table: crawl files
    arrive -> the batch job's fused ``extract_fused`` stage runs on
    each micro-batch -> results commit as warehouse snapshots, exactly-once
    via the batch-id guard. ``warc_ts`` is joined back from the
    micro-batch (the extraction stages carry url/lang/html only) so
    the extracted table gets the same ``days(warc_ts)``/``bucket(url)``
    partition transforms as the pages table; within a micro-batch that
    join is small and AQE broadcasts it. A micro-batch can span several
    crawl files and carry MULTIPLE captures of one url; the extraction
    output is keyed by url alone, so the batch is first consolidated to
    the latest capture per url (the ``latest_crawl`` rule) — a plain
    url join over duplicate captures would pair every extracted text
    with every warc_ts (k² rows, wrong pairings).

    Downstream consumers read a PINNED snapshot of the extracted table,
    so a continuously-draining extractor never changes the rows a
    training-data job sees mid-run.
    """
    from paddleocr_spark.operators.extract import extract_fused

    def _extract_commit(batch_df, batch_id: int) -> None:
        from paddleocr_spark.sources.readers import latest_crawl

        latest = latest_crawl(batch_df)
        out = extract_fused(latest).join(latest.select("url", "warc_ts"), "url")
        idempotent_append(out, batch_id, table_dir)

    src = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    q = (
        src.writeStream.foreachBatch(_extract_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)


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

    Exactly-once via the same batch-id guard as the append ingests; the
    id rides the upsert's single MERGE commit (delete + append in one
    snapshot, so there is no partial state to crash into — a restart
    either replays the whole batch or skips it).

    Within one micro-batch only the newest capture of each url is kept
    (deterministic max-warc_ts pick), because an upsert batch must
    carry at most one version per key.
    """
    from paddleocr_spark.sources.readers import latest_crawl

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
    await_drain(q, 180)

"""Streaming jobs: windowed event aggregation and streaming extraction.

Batch/stream parity by construction: both paths call the same
transformation functions, so the streaming results must equal the batch
results on the same input (asserted in tests/test_streaming.py). This
mirrors how the engine's extraction stage is a pure per-row function —
`extract_fused()` is stateless and runs under readStream unmodified.

Scale notes:
- watermark 2h bounds state for late data; window+event_type grouping
  state is O(active windows × types).
- streaming extraction needs no state at all (row-local); exactly-once
  lands on the sink's idempotency (file sink commit log in production,
  the lineage/anti-join plan of plans/job.py for batch backfill).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from paddleocr_spark.config import DEFAULT, PipelineConfig
from paddleocr_spark.operators.extract import extract_fused
from paddleocr_spark.sources.readers import PAGES_SCHEMA

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def hourly_agg(df: DataFrame) -> DataFrame:
    """Tumbling 1h window × event_type: count + decimal-exact value sum.
    Shared by the batch query (queries.q_events_hourly shape) and the
    stream below."""
    return (
        df.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def await_drain(q, timeout: float | None = None) -> None:
    """Block until the availableNow drain finishes; unlike a bare
    `awaitTermination(t)`, a timeout is an ERROR (a silently
    part-populated sink is worse than a failure)."""
    if timeout is None:
        q.awaitTermination()
        return
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} did not drain within {timeout}s"
        )


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )


def run_hourly_stream(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "events_hourly_stream",
) -> "DataFrame":
    """availableNow micro-batch run into an in-memory sink; returns the
    result table. Production swaps the sink for an Iceberg append with
    'append' output mode; 'complete' keeps the test deterministic."""
    stream = read_event_stream(spark, input_dir)
    q = (
        hourly_agg(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_extract_stream(
    spark: SparkSession,
    pages_dir: str,
    query_name: str = "extract_stream",
    cfg: PipelineConfig = DEFAULT,
) -> "DataFrame":
    """Streaming extraction: the batch job's fused ``extract_fused``
    stage under readStream (stateless per-row work -> no state store
    at all)."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    out = extract_fused(pages, cfg)
    q = (
        out.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def run_extract_stream_filesink(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT,
) -> None:
    """Production-shaped incremental extraction: file source ->
    extract_fused -> parquet FILE sink with a checkpoint. The file
    sink's commit log + the source's processed-files log give
    exactly-once across restarts: re-running with the same checkpoint
    processes ONLY files that appeared since the last run (the
    streaming twin of the batch lineage/anti-join resume,
    plans/job.py). availableNow: drains what's currently there, then
    stops — the incremental-backfill trigger."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    q = (
        extract_fused(pages, cfg)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)


def run_hourly_stream_append(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> None:
    """Production shape: append-mode watermarked windows into a file
    sink — a window row is emitted exactly once, when the watermark
    passes its end (late-data-final semantics). maxFilesPerTrigger=1
    advances the watermark between micro-batches so closed windows
    flush during an availableNow drain.

    The flip side of late-data-final: windows NOT yet closed by the
    final watermark (the newest ~``watermark`` of event time) stay in
    the state store and are ABSENT from ``out_dir`` after a one-shot
    drain — they flush on a later drain once new data advances the
    watermark past them. A consumer treating the sink as "the complete
    aggregate" must either wait out the watermark horizon or union the
    batch aggregate over the tail. (Same property for
    sessions.session_window_stream.)"""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    q = (
        hourly_agg(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)

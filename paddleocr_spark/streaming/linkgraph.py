"""Streaming host link-graph ingestion: incremental (src_host,
dst_host) edge counts over a stream of crawled pages — the continuously
maintained web-graph the batch `host_pagerank` query consumes.

Batch/stream parity by construction (the module convention): both
paths call `host_edges`, so the streamed counts must equal a batch run
over the same files (asserted multi-batch in tests/test_streaming.py).

Link semantics: absolute `href="https://…"` links resolve to their own
host via `parse_url`; relative links (`/path`, `path`) resolve to the
PAGE's host — the same resolution rule any extraction pipeline applies
before graph construction. Everything is JVM-side (regexp + parse_url);
html bytes never leave the scan projection.

Scale notes: the running aggregation state is O(distinct host pairs) —
the host graph, orders of magnitude smaller than the page stream. The
test sink uses outputMode('complete') + memory for determinism;
production swaps in update mode with an idempotent keyed merge into the
warehouse (sources/warehouse.py), exactly as streaming/ingest.py does
for extraction rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.sources.readers import PAGES_SCHEMA


def host_edges(pages: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) from page url + html bytes.
    Stateless until the final aggregate; shared by batch and stream."""
    html_s = F.decode(F.col("html"), "UTF-8")
    src = F.parse_url(F.col("url"), F.lit("HOST"))
    hrefs = F.regexp_extract_all(html_s, F.lit(r'href="([^"]+)"'), F.lit(1))
    links = pages.select(
        src.alias("src_host"), F.explode(hrefs).alias("href")
    )
    dst = F.coalesce(F.parse_url(F.col("href"), F.lit("HOST")), F.col("src_host"))
    return (
        links.select("src_host", dst.alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def run_linkgraph_stream(
    spark: SparkSession,
    pages_dir: str,
    query_name: str = "linkgraph_stream",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """availableNow drain of the incremental edge-count aggregation into
    an in-memory sink; returns the result table."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_dir)
    q = (
        host_edges(pages)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)

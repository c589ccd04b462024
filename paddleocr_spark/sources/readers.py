"""Sources and sinks beyond the parquet scan (SURVEY.md §2.1).

- ``read_pages``: the canonical pages source with an explicit schema
  (parquet; JSONL for fixture-style inputs — the PubTabDataSet analog,
  ppocr/data/pubtab_dataset.py). In production this is an Iceberg scan
  (`spark.read.format("iceberg")`, snapshot pinned for lineage); the
  sandbox has no Iceberg catalog, so parquet stands in with the same
  schema and the snapshot id emulated from the file listing
  (plans/job._input_snapshot).
- ``sampled_pages``: per-source ratio sampling with a fixed seed — the
  SimpleDataSet ``ratio_list`` + seeded-shuffle analog
  (ppocr/data/simple_dataset.py:25-99), as a native `sample` (no
  driver-side lists).
- ``write_jsonl_results``: the reference's results sink — one JSON doc
  per input (tools/infer/predict_system.py:244-267 writes
  ``name \\t [{"transcription","points"}]``) — as `to_json` + text write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "parquet":
        return spark.read.schema(PAGES_SCHEMA).parquet(path)
    if fmt in ("json", "jsonl"):
        # explicit schema, like every other source: inference would
        # scan the input twice, type-drift on all-numeric values, and
        # hard-fail (UNRESOLVED_COLUMN) on files where every row omits
        # an optional key — with the schema they read as nulls, the
        # parquet branch's behavior
        jschema = StructType(
            [
                StructField("url", StringType()),
                StructField("warc_ts", StringType()),
                StructField("html_b64", StringType()),
                StructField("text", StringType()),
                StructField("lang", StringType()),
            ]
        )
        df = spark.read.schema(jschema).json(path)
        # JSONL carries html as base64 text (JSON has no binary type)
        return df.select(
            "url",
            F.col("warc_ts").cast("timestamp").alias("warc_ts"),
            F.unbase64("html_b64").alias("html"),
            "text",
            "lang",
        )
    raise ValueError(f"unsupported pages format: {fmt}")


def sampled_pages(
    df: DataFrame, ratios: dict[str, float], seed: int = 42,
    source_col: str = "lang",
) -> DataFrame:
    """Per-group sampling ratios (ratio_list analog): stratified
    `sampleBy` — executed as a per-row filter on a seeded hash, no
    shuffle, no driver materialization."""
    return df.sampleBy(source_col, fractions=ratios, seed=seed)


def write_jsonl_results(df: DataFrame, path: str) -> None:
    """extracted rows -> one JSON object per line (results-sink analog).
    Every field is always present: to_json's default ignoreNullFields
    would silently omit a null column's key from just that subset of
    lines, and a consumer indexing rec['extracted_text'] would KeyError
    on exactly those."""
    out = df.select(
        F.to_json(
            F.struct("url", "extracted_text", "spans", "n_blocks_kept"),
            {"ignoreNullFields": "false"},
        ).alias("value")
    )
    out.write.mode("overwrite").text(path)


def read_labels_tsv(spark: SparkSession, path: str) -> DataFrame:
    """SimpleDataSet label-file source (ppocr/data/simple_dataset.py:
    25-99 reads ``img_path \\t label`` lines): tab-separated
    (url, label) with an explicit schema, no header; malformed lines
    are dropped, mirroring the reference's log-and-skip on bad rows.
    Distributed text-splitting — a 10^9-line label file reads in
    parallel like any other source."""
    # plain text + tab split, the reference's own parse
    # (data_line.split(delimiter); url = substr[0], label = substr[1],
    # extra fields ignored): CSV parsing would strip quotes from a
    # label like "quoted text", mangle escape sequences, and DROP any
    # >2-field line as malformed — silent training-row loss
    lines = spark.read.text(path)
    df = (
        lines.select(F.split("value", "\t").alias("p"))
        .filter(F.size("p") >= 2)
        .select(F.col("p")[0].alias("url"), F.col("p")[1].alias("label"))
    )
    return df.filter(F.col("url") != "")


def latest_crawl(df: DataFrame) -> DataFrame:
    """Recrawl dedup: keep exactly one row per url — the latest
    `warc_ts`, ties broken by the longer (then lexicographically
    larger) html payload so the choice is deterministic under any
    partitioning. One shuffle on url; the recrawl ingest
    (streaming/ingest.py) applies it to each micro-batch."""
    from pyspark.sql import Window

    # the trailing whole-row key makes the order TOTAL: rows equal in
    # (warc_ts, html) but differing in any other column (text, lang)
    # would otherwise be ordered by shuffle arrival — the surviving
    # row's columns varying across runs, contradicting the determinism
    # contract (to_json renders binary as base64, so it covers html
    # including the null-html case md5 leaves unordered)
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"),
        F.desc(F.octet_length("html")),
        F.desc(F.md5("html")),
        F.desc(F.md5(F.to_json(F.struct(*df.columns)))),
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

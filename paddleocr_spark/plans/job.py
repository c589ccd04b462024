"""Scale plan: url-hash logical parts, one task per part, per-partition
lineage + resume.

Replaces the reference's only scaling mechanism — static modulo striping
of the file list across subprocesses (tools/infer/predict_system.py:187,
313-324: ``image_file_list[process_id::total_process_num]``, no skew
handling, no resume) — with the north_rule's design:

- **part_id** = ``pmod(xxhash64(url), N)``: a *logical*, content-derived
  partition id (stable across runs/cluster sizes) — the checkpoint and
  lineage unit. Being a url hash it is already near-uniform over urls,
  so host skew (many pages of one host) cannot make one part hot.
- **routing**: ``repartitionById`` sends part ``k`` straight to shuffle
  partition ``k`` (no second hash, and AQE does not coalesce a
  ``REPARTITION_BY_NUM`` exchange), so each task writes exactly one file
  into exactly one ``part_id=k/`` directory. ``salt`` > 1 splits every
  part over ``salt`` tasks (``pmod(xxhash64(url, seed), salt)``) — worth
  it only when the cluster has more task slots than logical parts. It
  buys no skew balance: AQE skew splitting applies to joins, not to this
  exchange, and a url's revisit captures share one salt key.
- **lineage**: one row per completed partition (part_id, run_id,
  input_snapshot, row_count, extraction metrics) appended AFTER the
  partition's data commit. In production these are Iceberg table
  appends with the real input snapshot id; the sandbox emulates the
  layout with parquet dirs + dynamic partition overwrite, which gives
  the same idempotency contract (re-writing a part_id replaces exactly
  that partition's files).
- **resume**: broadcast left anti-join of input against completed
  part_ids (SURVEY.md §2.3: the resume anti-join).

Metrics are computed by re-scanning the *written output* (column-pruned:
never re-reads html), not by recomputing the pipeline.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from paddleocr_spark.config import DEFAULT, PipelineConfig
from paddleocr_spark.operators.extract import extract, extract_fused

SALT_SEED = 42

# fused is the production stage; array is its Spark-native cross-check
_EXTRACTORS = {"fused": extract_fused, "array": extract}


def add_part_id(df: DataFrame, n_partitions: int) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("int")
    )


def salted_repartition(df: DataFrame, n_partitions: int, salt: int) -> DataFrame:
    """Route each logical partition to its own ``salt`` shuffle
    partitions: task ``part_id * salt + k`` holds the part's urls with
    ``pmod(xxhash64(url, seed), salt) == k``, so each task writes one
    file into one ``part_id=`` directory."""
    salt = max(salt, 1)
    sub = F.pmod(F.xxhash64("url", F.lit(SALT_SEED)), F.lit(salt))
    task = (F.col("part_id") * salt + sub).cast("int")
    return df.repartitionById(n_partitions * salt, task)


def _is_warehouse(input_path: str) -> bool:
    return os.path.isdir(os.path.join(input_path, "_snapshots"))


def _is_warc(input_path: str) -> bool:
    if input_path.endswith((".warc", ".warc.gz")):
        return True
    return os.path.isdir(input_path) and any(
        n.endswith((".warc", ".warc.gz")) for n in os.listdir(input_path)
    )


def _input_snapshot(input_path: str) -> str:
    """Stand-in for the Iceberg snapshot id: content-address the input
    file listing (names + sizes). Warehouse tables
    (sources/warehouse.py) carry REAL snapshot ids instead — see
    run_extract_job."""
    h = hashlib.md5()
    if os.path.isdir(input_path):
        for name in sorted(os.listdir(input_path)):
            p = os.path.join(input_path, name)
            h.update(f"{name}:{os.path.getsize(p)};".encode())
    elif os.path.exists(input_path):
        h.update(f"{os.path.basename(input_path)}:{os.path.getsize(input_path)}".encode())
    return h.hexdigest()[:16]


def parse_blocklist(arg: str | None) -> list[str]:
    """CLI form of the blocklist: a file of hosts (one per line, `#`
    comments allowed) or a comma-separated list."""
    if not arg:
        return []
    if os.path.exists(arg):
        with open(arg) as f:
            lines = f.read().splitlines()
    else:
        lines = arg.split(",")
    return [h.strip() for h in lines if h.strip() and not h.strip().startswith("#")]


def apply_host_blocklist(
    spark: SparkSession, pages: DataFrame, blocked_hosts: list[str]
) -> DataFrame:
    """URL-level gate ahead of extraction (the corpus-level
    cheap-predicate-first discipline of db_postprocess.py:136-141):
    drop pages whose url host is blocklisted BEFORE `html` is parsed —
    the filter rides the scan and the blocked rows never reach the
    Arrow UDF. The blocklist is a broadcast anti-join build side (real
    blocklists are 10^4-10^6 hosts — always broadcastable); hosts
    compare case-insensitively."""
    bl = spark.createDataFrame(
        [(h.strip().lower(),) for h in blocked_hosts if h.strip()],
        "blocked_host string",
    )
    host = F.lower(F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1))
    return (
        pages.withColumn("__host", host)
        .join(
            F.broadcast(bl),
            F.col("__host") == F.col("blocked_host"),
            "left_anti",
        )
        .drop("__host")
    )


def completed_parts(spark: SparkSession, output_dir: str) -> DataFrame | None:
    lineage_path = os.path.join(output_dir, "lineage")
    if not os.path.exists(lineage_path):
        return None
    try:
        return spark.read.parquet(lineage_path).select("part_id").distinct()
    except Exception:
        return None


def run_extract_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    mode: str = "fused",
    n_partitions: int = 32,
    salt: int = 1,
    resume: bool = False,
    cfg: PipelineConfig = DEFAULT,
    only_first_parts: int | None = None,
    blocked_hosts: list[str] | None = None,
    since_snapshot: str | None = None,
    wet_out: str | None = None,
    wet_gz: bool = False,
) -> dict:
    """Run extraction with checkpoint/resume. ``mode`` picks the
    realization: ``"fused"`` (the production stage) or ``"array"`` (the
    Spark-native cross-check). ``only_first_parts`` is a
    test hook simulating a mid-job failure after k partitions.
    ``blocked_hosts`` prunes blocklisted hosts before any parsing
    (apply_host_blocklist).

    ``since_snapshot`` (warehouse inputs only) switches to a DELTA run:
    only pages appended after that snapshot and still live are read
    (warehouse.read_incremental), so a daily recrawl extracts the day's
    crawl, not the whole table. Point a delta run at its own output dir
    — partitions are overwritten whole, so mixing a delta into a full
    run's output would drop that run's co-partitioned rows."""
    if mode not in _EXTRACTORS:
        raise ValueError(f"mode must be one of {sorted(_EXTRACTORS)}, got {mode!r}")
    if since_snapshot is not None and not _is_warehouse(input_path):
        raise ValueError("--since-snapshot requires a warehouse table input")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    data_path = os.path.join(output_dir, "extracted")
    lineage_path = os.path.join(output_dir, "lineage")
    run_id = uuid.uuid4().hex[:12]
    timings: dict[str, float] = {}

    if _is_warehouse(input_path):
        # snapshot-pinned scan: lineage rows reference the warehouse's
        # committed snapshot id, and the whole run reads exactly that
        # snapshot's files even if appends land mid-run
        from paddleocr_spark.sources import warehouse as W

        snapshot = W.current_snapshot_id(input_path)
        if since_snapshot is not None:
            # delta run: lineage pins the WINDOW (from..to), because
            # re-running it must reproduce the same row set
            src = W.read_incremental(spark, input_path, since_snapshot, snapshot)
            snapshot = f"{since_snapshot}..{snapshot}"
        else:
            src = W.read_table(spark, input_path, snapshot)
        src = src.drop("day", "bucket")
    elif _is_warc(input_path):
        # Common-Crawl-shaped ingestion: WARC members via binaryFile
        # (one task per member), lang sniffed off the html bytes
        from paddleocr_spark.sources import warc as Warc

        snapshot = _input_snapshot(input_path)
        src = Warc.with_sniffed_lang(Warc.read_warc(spark, input_path))
    else:
        snapshot = _input_snapshot(input_path)
        src = spark.read.parquet(input_path)
    if blocked_hosts:
        src = apply_host_blocklist(spark, src, blocked_hosts)
    pages = add_part_id(src, n_partitions)

    n_done_before = 0
    if resume:
        done = completed_parts(spark, output_dir)
        if done is not None:
            n_done_before = done.count()
            pages = pages.join(F.broadcast(done), "part_id", "left_anti")

    # part_id is a pure function of url, so the to-do list is a cheap
    # column-pruned scan of the INPUT (url only, never the UDF pipeline).
    t0 = time.monotonic()
    parts_processed = sorted(
        r["part_id"] for r in pages.select("part_id").distinct().collect()
    )
    if only_first_parts is not None:
        parts_processed = parts_processed[:only_first_parts]
        pages = pages.filter(F.col("part_id").isin(parts_processed))
    timings["plan_parts_s"] = round(time.monotonic() - t0, 3)

    pages = salted_repartition(pages, n_partitions, salt)

    ext = _EXTRACTORS[mode](pages, cfg)
    # recompute from url post-extract: no extra shuffle, no UDF re-run
    ext = add_part_id(ext, n_partitions)

    if parts_processed:
        # ONE extraction pass: the write is the only action over the UDF.
        t0 = time.monotonic()
        ext.write.partitionBy("part_id").mode("overwrite").parquet(data_path)
        timings["extract_write_s"] = round(time.monotonic() - t0, 3)

        # lineage AFTER the data commit; metrics from the written files,
        # column-pruned (html never read here)
        t0 = time.monotonic()
        out = spark.read.parquet(data_path).filter(
            F.col("part_id").isin(parts_processed)
        )
        metrics = out.groupBy("part_id").agg(
            F.count("*").alias("row_count"),
            F.sum("n_blocks_detected").alias("blocks_detected"),
            F.sum("n_blocks_kept").alias("blocks_kept"),
            F.sum(F.length("extracted_text")).alias("chars_out"),
        )
        lineage = metrics.select(
            "part_id",
            F.lit(run_id).alias("run_id"),
            F.lit(snapshot).alias("input_snapshot"),
            "row_count",
            "blocks_detected",
            "blocks_kept",
            "chars_out",
            F.lit(int(time.time() * 1000)).alias("committed_ms"),
        )
        lineage.coalesce(1).write.mode("append").parquet(lineage_path)
        timings["lineage_s"] = round(time.monotonic() - t0, 3)

    wet_files = None
    wet_missing_ts = 0
    # The WET pass is decoupled from parts_processed: a `--resume
    # --wet-out` rerun after extraction already completed must still
    # export from the COMMITTED output (previously it silently skipped
    # — no wet files, no 'wet_files' stats key). It is gated only on
    # the committed data existing; when it doesn't, the skip is
    # REPORTED (wet_skipped) instead of silent.
    has_committed = bool(parts_processed) or os.path.exists(data_path)
    stats_wet_skipped = None if has_committed else "no committed output at data_path"
    if wet_out is not None and has_committed:
        # WET export (Common Crawl's .warc.wet conversion records) from
        # the COMMITTED output: extracted text re-read column-pruned,
        # warc_ts joined back from the input on the url key. Runs after
        # the data commit so a failed WET pass never dirties resume.
        from paddleocr_spark.sources import warc as Warc

        t0 = time.monotonic()
        # WET is a per-URL artifact: a revisit archive (k captures per
        # url) yields k extracted rows and k timestamps, and a plain
        # equi-join would emit k² records per url. Consolidation
        # belongs upstream (warehouse upsert / the latest_snapshot
        # rule), but the export is defensive: exactly one record per
        # url, stamped with the LATEST capture's timestamp, text
        # picked deterministically (max — identical across captures
        # whenever the input was consolidated). NB: for parquet inputs
        # the timestamp lookup is a column-pruned scan; for WARC inputs
        # it re-reads members (the binaryFile source has no projection
        # pushdown) — carrying warc_ts through the extraction output
        # would save that pass at the cost of widening its schema.
        done = (
            spark.read.parquet(data_path)
            .groupBy("url")
            .agg(F.max("extracted_text").alias("extracted_text"))
        )
        ts_by_url = src.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
        wet_rows = done.join(ts_by_url, "url")
        manifest = Warc.write_wet(
            wet_rows,
            wet_out,
            n_files=max(1, min(n_partitions, 64)),
            compress=wet_gz,
            # a FULL export of every committed url the current input
            # can timestamp; overwrite deletes prior same-kind members
            # first, so stale buckets never survive a re-export
            overwrite=True,
        )
        wet_files = len(manifest)
        # a committed url missing from the CURRENT input (input dir
        # changed / warehouse rows deleted between runs) has no
        # timestamp and drops out of the inner join — report it rather
        # than silently exporting a subset of the committed table
        n_exported = sum(m["n_records"] for m in manifest)
        wet_missing_ts = max(0, done.count() - n_exported)
        timings["wet_s"] = round(time.monotonic() - t0, 3)

    # rows_out from lineage (latest row per part), not a full output scan.
    rows_out = 0
    if os.path.exists(lineage_path):
        lin = spark.read.parquet(lineage_path)
        w = Window.partitionBy("part_id").orderBy(F.desc("committed_ms"))
        latest = lin.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        rows_out = latest.agg(F.sum("row_count")).collect()[0][0] or 0
    stats = dict(
        rows_out=int(rows_out),
        n_partitions=n_partitions,
        parts_done_before=n_done_before,
        parts_processed=len(parts_processed),
        input_snapshot=snapshot,
        run_id=run_id,
        mode=mode,
        timings=timings,
    )
    if wet_files is not None:
        stats["wet_files"] = wet_files
        if wet_missing_ts:
            stats["wet_missing_ts"] = int(wet_missing_ts)
    if wet_out is not None and stats_wet_skipped is not None:
        stats["wet_skipped"] = stats_wet_skipped
    return stats

"""WARC source/sink: round-trip byte identity, CDX byte-range fetch,
truncated-member robustness, and the extraction job running straight
off WARC members (reference-source analog:
ppocr/utils/utility.py get_image_file_list — dir-of-files ingestion)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.sources import warc as W
from paddleocr_spark.sources.pages import ensure_pages


@pytest.fixture(scope="module")
def pages_pq(smoke_dir):
    return os.path.join(smoke_dir, "pages.parquet")


@pytest.fixture(scope="module")
def warc_dir(spark, pages_pq, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("warc") / "members")
    pages = spark.read.parquet(pages_pq)
    manifest = W.write_warc(pages, out, n_files=4)
    assert len(manifest) == 4
    assert sum(m["n_records"] for m in manifest) == pages.count()
    for m in manifest:
        assert os.path.getsize(m["file"]) == m["n_bytes"]
    return out


def test_roundtrip_byte_identical(spark, pages_pq, warc_dir):
    orig = spark.read.parquet(pages_pq).select("url", "warc_ts", "html")
    back = W.read_warc(spark, warc_dir)
    assert back.count() == orig.count()
    j = orig.alias("o").join(back.alias("b"), "url")
    n_bad = j.filter(
        (F.col("o.html") != F.col("b.html"))
        | (F.col("o.warc_ts") != F.col("b.warc_ts"))
    ).count()
    assert n_bad == 0


def test_cdx_byte_range_fetches_one_record(spark, pages_pq, warc_dir):
    cdx = W.build_cdx(spark, warc_dir)
    orig = spark.read.parquet(pages_pq)
    assert cdx.count() == orig.count()
    # offsets tile each member exactly: sum(length) == file size
    sizes = {r["file"]: r["sum"] for r in
             cdx.groupBy("file").agg(F.sum("length").alias("sum")).collect()}
    for f, total in sizes.items():
        assert os.path.getsize(f.replace("file:", "")) == total
    # fetch one record by byte range and re-parse it standalone
    row = cdx.orderBy("url").limit(1).collect()[0]
    with open(row["file"].replace("file:", ""), "rb") as fh:
        fh.seek(row["offset"])
        blob = fh.read(row["length"])
    recs = list(W.iter_warc_records(blob))
    assert len(recs) == 1
    url, ts, payload, off, ln = recs[0]
    assert url == row["url"] and off == 0 and ln == row["length"]
    golden = orig.filter(F.col("url") == url).collect()[0]
    assert bytes(payload) == bytes(golden["html"])


def test_truncated_tail_is_skipped_not_crashed(spark, warc_dir, tmp_path):
    src = os.path.join(warc_dir, "part-00000.warc")
    with open(src, "rb") as f:
        data = f.read()
    n_full = len(list(W.iter_warc_records(data)))
    broken_dir = str(tmp_path / "broken")
    os.makedirs(broken_dir)
    with open(os.path.join(broken_dir, "part-00000.warc"), "wb") as f:
        f.write(data[: len(data) - 10])  # kill the last record's tail
    got = W.read_warc(spark, broken_dir)
    assert got.count() == n_full - 1
    # garbage member: zero rows, no crash
    with open(os.path.join(broken_dir, "junk.warc"), "wb") as f:
        f.write(b"\x00\xffnot a warc at all")
    assert W.read_warc(spark, broken_dir).count() == n_full - 1


def test_extract_job_from_warc_matches_golden(spark, smoke_dir, warc_dir, tmp_path):
    import duckdb

    from paddleocr_spark.plans.job import run_extract_job

    out = str(tmp_path / "out")
    stats = run_extract_job(
        spark, input_path=warc_dir, output_dir=out,
        n_partitions=8, salt=2,
    )
    golden = os.path.join(smoke_dir, "golden.parquet")
    n, ok = duckdb.sql(
        f"""select count(*), sum(cast(o.extracted_text = g.extracted_text as int))
        from read_parquet('{out}/extracted/*/*.parquet') o
        join read_parquet('{golden}') g using (url)"""
    ).fetchall()[0]
    assert stats["rows_out"] == n
    assert n == ok  # byte-identical extraction from the WARC path


@pytest.fixture(scope="module")
def warc_gz_dir(spark, pages_pq, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("warcgz") / "members")
    manifest = W.write_warc(
        spark.read.parquet(pages_pq), out, n_files=4, compress=True
    )
    assert all(m["file"].endswith(".warc.gz") for m in manifest)
    return out


def test_gz_roundtrip_byte_identical(spark, pages_pq, warc_gz_dir):
    orig = spark.read.parquet(pages_pq).select("url", "warc_ts", "html")
    back = W.read_warc(spark, warc_gz_dir)
    assert back.count() == orig.count()
    n_bad = (
        orig.alias("o").join(back.alias("b"), "url")
        .filter(
            (F.col("o.html") != F.col("b.html"))
            | (F.col("o.warc_ts") != F.col("b.warc_ts"))
        )
        .count()
    )
    assert n_bad == 0


def test_gz_cdx_range_gunzips_standalone(spark, pages_pq, warc_gz_dir):
    """The point of per-record gzip: a CDX byte range is a complete
    gzip stream — fetch it, gunzip it, parse one record."""
    import gzip as _gzip

    cdx = W.build_cdx(spark, warc_gz_dir)
    orig = spark.read.parquet(pages_pq)
    assert cdx.count() == orig.count()
    for row in cdx.orderBy("url").limit(3).collect():
        with open(row["file"].replace("file:", ""), "rb") as fh:
            fh.seek(row["offset"])
            blob = fh.read(row["length"])
        recs = list(W.iter_warc_records(_gzip.decompress(blob)))
        assert len(recs) == 1 and recs[0][0] == row["url"]
        golden = orig.filter(F.col("url") == row["url"]).collect()[0]
        assert bytes(recs[0][2]) == bytes(golden["html"])


def test_gz_truncated_tail_is_skipped(spark, warc_gz_dir, tmp_path):
    src = os.path.join(warc_gz_dir, "part-00000.warc.gz")
    with open(src, "rb") as f:
        data = f.read()
    n_full = len(list(W.iter_warc_gz_records(data)))
    broken = str(tmp_path / "broken")
    os.makedirs(broken)
    with open(os.path.join(broken, "part-00000.warc.gz"), "wb") as f:
        f.write(data[: len(data) - 7])
    assert W.read_warc(spark, broken).count() == n_full - 1


def test_extract_job_from_warc_gz_matches_golden(spark, smoke_dir, warc_gz_dir, tmp_path):
    import duckdb

    from paddleocr_spark.plans.job import run_extract_job

    out = str(tmp_path / "out")
    stats = run_extract_job(
        spark, input_path=warc_gz_dir, output_dir=out, n_partitions=8, salt=2
    )
    golden = os.path.join(smoke_dir, "golden.parquet")
    n, ok = duckdb.sql(
        f"""select count(*), sum(cast(o.extracted_text = g.extracted_text as int))
        from read_parquet('{out}/extracted/*/*.parquet') o
        join read_parquet('{golden}') g using (url)"""
    ).fetchall()[0]
    assert stats["rows_out"] == n and n == ok


@pytest.mark.parametrize("which", ["plain", "gz"])
def test_fetch_records_by_cdx_range(spark, pages_pq, warc_dir, warc_gz_dir, which):
    """Selective by-range fetch: only the target urls' ranges are read,
    payload bytes identical to the source table — for both plain and
    per-record-gzip members."""
    d = warc_dir if which == "plain" else warc_gz_dir
    cdx = W.build_cdx(spark, d)
    orig = spark.read.parquet(pages_pq)
    targets = [r["url"] for r in orig.orderBy("url").limit(17).collect()]
    got = W.fetch_records(spark, cdx, targets)
    assert got.count() == 17
    j = got.alias("g").join(orig.alias("o"), "url")
    assert j.count() == 17
    assert j.filter(
        (F.col("g.html") != F.col("o.html"))
        | (F.col("g.warc_ts") != F.col("o.warc_ts"))
    ).count() == 0
    # a DataFrame target set works too, and misses simply don't match
    tdf = spark.createDataFrame(
        [(targets[0],), ("https://nowhere.example/none",)], ["url"]
    )
    assert W.fetch_records(spark, cdx, tdf).count() == 1


# ---------------------------------------------------------------------------
# WET (conversion-record) sink/source
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def wet_input(spark, smoke_dir):
    """(url, warc_ts, extracted_text): the golden extraction joined to
    the page timestamps — exactly what jobs/extract.py's output table
    holds when a WET export runs after extraction."""
    golden = spark.read.parquet(os.path.join(smoke_dir, "golden.parquet"))
    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    return golden.join(pages.select("url", "warc_ts"), "url").select(
        "url", "warc_ts", "extracted_text"
    )


@pytest.mark.parametrize("compress", [False, True])
def test_wet_roundtrip_matches_golden_text(spark, wet_input, tmp_path, compress):
    """write_wet -> read_wet is text-identical to the golden extraction
    for every url (including gz members), and the manifest accounts for
    every record and byte."""
    out = str(tmp_path / ("wet_gz" if compress else "wet"))
    manifest = W.write_wet(wet_input, out, n_files=3, compress=compress)
    assert sum(m["n_records"] for m in manifest) == wet_input.count()
    for m in manifest:
        assert os.path.getsize(m["file"]) == m["n_bytes"]
    back = W.read_wet(spark, out)
    j = wet_input.alias("o").join(back.alias("b"), "url")
    assert j.count() == wet_input.count()
    n_bad = j.filter(
        (F.col("o.extracted_text") != F.col("b.text"))
        | (F.col("o.warc_ts") != F.col("b.warc_ts"))
    ).count()
    assert n_bad == 0


def test_wet_records_are_conversion_type(spark, wet_input, tmp_path):
    """Member bytes carry the WET protocol fields: WARC-Type:
    conversion + Content-Type: text/plain, Content-Length-framed."""
    out = str(tmp_path / "wet_hdr")
    manifest = W.write_wet(wet_input, out, n_files=1)
    with open(manifest[0]["file"], "rb") as fh:
        data = fh.read()
    assert data.startswith(b"WARC/1.0\r\nWARC-Type: conversion\r\n")
    assert b"Content-Type: text/plain\r\n" in data.split(b"\r\n\r\n", 1)[0]
    # the generic WARC parser reads WET members (they ARE WARC records)
    n = sum(1 for _ in W.iter_warc_records(data))
    assert n == manifest[0]["n_records"]


def test_extract_job_wet_export_matches_golden(spark, smoke_dir, tmp_path):
    """jobs/extract.py --wet-out: the exported WET members read back
    text-identical to the golden extraction for every url."""
    from paddleocr_spark.plans.job import run_extract_job

    out = str(tmp_path / "job_out")
    wet = str(tmp_path / "wet_out")
    stats = run_extract_job(
        spark,
        input_path=os.path.join(smoke_dir, "pages.parquet"),
        output_dir=out,
        n_partitions=8,
        salt=2,
        wet_out=wet,
    )
    assert stats["wet_files"] >= 1 and "wet_s" in stats["timings"]
    golden = spark.read.parquet(os.path.join(smoke_dir, "golden.parquet"))
    back = W.read_wet(spark, wet)
    assert back.count() == golden.count() == stats["rows_out"]
    j = golden.alias("g").join(back.alias("b"), "url")
    assert j.filter(F.col("g.extracted_text") != F.col("b.text")).count() == 0


def test_reexport_guard_and_run_tag(spark, wet_input, tmp_path):
    """Deterministic member names make a delta re-export into a
    populated dir lossy (colliding hash buckets replaced with only the
    current run's urls) — so it must RAISE unless the caller scopes
    names with run_tag (members coexist; readers see both runs) or
    explicitly accepts replacement with overwrite=True."""
    out = str(tmp_path / "wet")
    # deterministic split: an unordered limit() may pick different rows
    # on each action, so anchor it and derive the complement by anti-join
    first = wet_input.orderBy("url").limit(10)
    rest = wet_input.join(first.select("url"), "url", "left_anti")
    W.write_wet(first, out, n_files=2)

    with pytest.raises(FileExistsError, match="url duplicates"):
        W.write_wet(rest, out, n_files=2)

    # run-scoped names append alongside the first run's members
    W.write_wet(rest, out, n_files=2, run_tag="r2")
    back = W.read_wet(spark, out)
    assert back.count() == wet_input.count()
    assert back.select("url").distinct().count() == wet_input.count()

    # toggling compression changes the filename but not the KIND: the
    # glob readers would union both sets, so it must conflict too
    gz = str(tmp_path / "gz")
    W.write_wet(first, gz, n_files=2)
    with pytest.raises(FileExistsError):
        W.write_wet(rest, gz, n_files=2, compress=True)

    # a full re-export may explicitly replace the kind's members —
    # overwrite DELETES every prior same-kind member (here: 4 members,
    # one of them gz) so a smaller n_files leaves no stale buckets
    full = str(tmp_path / "full")
    W.write_wet(first, full, n_files=4)
    W.write_wet(wet_input, full, n_files=2, overwrite=True)
    members = [f for f in os.listdir(full) if ".warc.wet" in f]
    assert len(members) == 2
    assert W.read_wet(spark, full).count() == wet_input.count()


def test_read_warc_ignores_wet_members_in_same_dir(spark, wet_input, pages_pq, tmp_path):
    """A dir holding both response members and a WET export: read_warc
    and build_cdx must see only the .warc/.warc.gz pages — WET text
    payloads must never masquerade as html."""
    mixed = str(tmp_path / "mixed")
    pages = spark.read.parquet(pages_pq)
    W.write_warc(pages, mixed, n_files=2)
    W.write_wet(wet_input, mixed, n_files=2)  # same dir, .warc.wet members
    assert spark.read.parquet(pages_pq).count() == W.read_warc(spark, mixed).count()
    assert W.build_cdx(spark, mixed).count() == pages.count()
    # and the WET reader sees only its own members
    assert W.read_wet(spark, mixed).count() == wet_input.count()


def test_wet_export_single_record_per_url_on_multicapture_input(spark, smoke_dir, tmp_path):
    """A revisit archive (two captures per url) must yield exactly ONE
    WET record per url, stamped with the LATEST capture's timestamp."""
    import datetime as dt

    from paddleocr_spark.plans.job import run_extract_job

    base = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet")).limit(20)
    older = base.withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("interval 7 days")
    )
    multi = str(tmp_path / "multi.parquet")
    base.unionByName(older).write.parquet(multi)

    out, wet = str(tmp_path / "out"), str(tmp_path / "wet")
    run_extract_job(
        spark, input_path=multi, output_dir=out,
        n_partitions=4, salt=2, wet_out=wet,
    )
    back = W.read_wet(spark, wet)
    n_urls = base.select("url").distinct().count()
    assert back.count() == n_urls  # one record per url, not per capture
    j = back.alias("b").join(base.alias("o"), "url")
    assert j.filter(F.col("b.warc_ts") != F.col("o.warc_ts")).count() == 0

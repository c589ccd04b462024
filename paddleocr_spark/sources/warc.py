"""WARC-style source/sink: the wire format of Common-Crawl-shaped
corpora. Pages travel as length-prefixed response records

    WARC/1.0\r\n
    WARC-Type: response\r\n
    WARC-Target-URI: <url>\r\n
    WARC-Date: <iso8601>\r\n
    Content-Length: <payload bytes>\r\n
    \r\n
    <payload>\r\n\r\n

concatenated per file — parsing is driven by Content-Length (never by
scanning the payload for separators), exactly like real WARC readers,
so arbitrary html bytes round-trip.

Scale shape:
- `read_warc` uses Spark's `binaryFile` source (one task per file —
  WARC is not splittable uncompressed any more than .warc.gz is, and
  real crawls cap members at ~1 GB precisely so file==task works) and
  an Arrow `mapInPandas` parser; no per-row Python, no driver I/O.
- `write_warc` assigns records to members by url-hash (the pipeline's
  partition key), one `applyInPandas` group per member, each executor
  writing only its own member file; the returned manifest is the
  commit record. On an object store the `open()` swaps for the store
  client; the plan shape is unchanged.
- `build_cdx` emits the (url, file, offset, length) index rows that
  let later jobs fetch one record by byte range — the CDX(J) index
  Common Crawl publishes alongside its WARCs.

Reference analog: none — PaddleOCR ingests image files from a local
dir (ppocr/utils/utility.py get_image_file_list); a web-scale corpus
ingests WARC members. This module is that source re-expressed for
Spark's execution model.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CRLF2 = b"\r\n\r\n"
_TS_FMT = "%Y-%m-%dT%H:%M:%S.%fZ"

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
    ]
)

CDX_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("file", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def warc_record_bytes(
    url: str,
    ts: dt.datetime,
    payload: bytes,
    rec_type: str = "response",
    content_type: str | None = None,
) -> bytes:
    ct = f"Content-Type: {content_type}\r\n" if content_type else ""
    header = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rec_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime(_TS_FMT)}\r\n"
        f"{ct}"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("utf-8")
    return header + payload + _CRLF2


def iter_warc_records(data: bytes):
    """Yield (url, warc_ts, payload, offset, length) from one member.

    Content-Length-driven, like every real WARC reader; a truncated or
    malformed tail record is skipped (crawl writers die mid-record —
    readers must not), never a crash.
    """
    pos, n = 0, len(data)
    while pos < n:
        if data[pos:pos + 5] != b"WARC/":
            break
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            break
        headers = {}
        for line in data[pos:hdr_end].decode("utf-8", errors="replace").split("\r\n")[1:]:
            k, _, v = line.partition(":")
            # strip only SP/HT (the WARC field grammar) — Python's
            # default strip() also eats Unicode whitespace like U+0085,
            # which is a legal URI codepoint
            headers[k.strip(" \t").lower()] = v.strip(" \t")
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            break
        body_start = hdr_end + len(_CRLF2)
        rec_end = body_start + clen + len(_CRLF2)
        if rec_end > n or data[body_start + clen:rec_end] != _CRLF2:
            break  # truncated tail
        url = headers.get("warc-target-uri", "")
        try:
            ts = dt.datetime.strptime(headers.get("warc-date", ""), _TS_FMT)
            ts = ts.replace(tzinfo=dt.timezone.utc)
        except ValueError:
            ts = None
        yield url, ts, data[body_start:body_start + clen], pos, rec_end - pos
        pos = rec_end


def iter_warc_gz_records(data: bytes):
    """Yield (url, warc_ts, payload, offset, length) from a member of
    per-record gzip streams (the real Common Crawl .warc.gz layout:
    each record is its own gzip member, so a CDX (offset, length) byte
    range gunzips standalone). Offsets/lengths are COMPRESSED ranges.
    A corrupt or truncated tail member is skipped, never a crash."""
    pos, n = 0, len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            raw = d.decompress(data[pos:])
            raw += d.flush()
        except zlib.error:
            break
        if not d.eof:
            break  # truncated tail member
        comp_len = (n - pos) - len(d.unused_data)
        recs = list(iter_warc_records(raw))
        if len(recs) != 1:
            break
        url, ts, payload, _, _ = recs[0]
        yield url, ts, payload, pos, comp_len
        pos += comp_len


def _iter_member(path: str, data: bytes):
    if path.endswith(".gz"):
        return iter_warc_gz_records(data)
    return iter_warc_records(data)


def _binary_files(spark: SparkSession, path: str) -> DataFrame:
    # brace glob: plain .warc and per-record-gzip .warc.gz, but NOT the
    # .warc.wet conversion members a --wet-out export may have written
    # into a sibling dir — a '*.warc*' glob would silently ingest WET
    # text payloads as pages (every url twice, once as fake html)
    glob = os.path.join(path, "*.warc{,.gz}") if os.path.isdir(path) else path
    return spark.read.format("binaryFile").load(glob)


def _parse_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas parser (path, content) -> PAGES_SCHEMA rows for the
    batch reader."""
    for pdf in batches:
        for _, row in pdf.iterrows():
            recs = [
                (u, ts, payload)
                for u, ts, payload, _, _ in _iter_member(
                    row["path"], bytes(row["content"])
                )
            ]
            yield pd.DataFrame(recs, columns=["url", "warc_ts", "html"])


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """(url, warc_ts, html) from a .warc file / dir of members."""
    return (
        _binary_files(spark, path)
        .select("path", "content")
        .mapInPandas(_parse_pages, schema=PAGES_SCHEMA)
    )


def build_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDX-style index: one row per record with its member file and
    byte range — `data[offset:offset+length]` is the whole record."""
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                recs = [
                    (u, ts, row["path"], off, ln)
                    for u, ts, _, off, ln in _iter_member(
                        row["path"], bytes(row["content"])
                    )
                ]
                yield pd.DataFrame(
                    recs, columns=["url", "warc_ts", "file", "offset", "length"]
                )

    return (
        _binary_files(spark, path)
        .select("path", "content")
        .mapInPandas(parse, schema=CDX_SCHEMA)
    )


def write_warc(
    pages: DataFrame,
    out_dir: str,
    n_files: int = 8,
    compress: bool = False,
    run_tag: str | None = None,
    overwrite: bool = False,
) -> list[dict]:
    """Write (url, warc_ts, html) rows as `n_files` WARC members under
    ``out_dir``; returns the manifest [(file, n_records, n_bytes)].
    ``compress=True`` writes .warc.gz members where EACH RECORD is its
    own gzip stream (mtime=0, deterministic) — the Common Crawl layout
    that makes CDX byte ranges independently gunzippable.

    Each member is one url-hash bucket (the pipeline's partition key),
    built and written entirely on the executor that owns the group;
    records are url-sorted inside a member so output is deterministic
    under any input partitioning.
    """
    return _write_members(
        pages.select("url", "warc_ts", "html"),
        out_dir,
        n_files,
        compress,
        base_ext=".warc",
        payload_fn=lambda r: bytes(r.html),
        rec_kwargs={},
        run_tag=run_tag,
        overwrite=overwrite,
    )


def _write_members(
    rows: DataFrame,
    out_dir: str,
    n_files: int,
    compress: bool,
    base_ext: str,
    payload_fn,
    rec_kwargs: dict,
    run_tag: str | None = None,
    overwrite: bool = False,
) -> list[dict]:
    """Shared member writer for WARC (response) and WET (conversion)
    sinks: url-hash bucket per member, built and written on the owning
    executor, records url-sorted inside a member for determinism.

    Member names are deterministic (part-<fid>), so a re-export into a
    dir that already holds members of the same kind is lossy two ways:
    colliding names REPLACE prior buckets with only the current run's
    urls, and non-colliding leftovers (a different n_files, compression
    or run_tag) stay behind and DUPLICATE urls for the glob readers,
    which union every member of the kind. Guarded: an untagged write
    conflicts with ANY existing member of this kind (either
    compression, any tag — the readers see them all); a ``run_tag``
    write conflicts only with its own tag (appending a new tag
    alongside prior runs is the designed delta layout). On conflict the
    write raises unless ``overwrite=True``, which DELETES every
    conflicting member first so the result is exactly this run's
    export — never a mix of old and new bucketing."""
    os.makedirs(out_dir, exist_ok=True)
    ext = base_ext + (".gz" if compress else "")
    tag = f"-{run_tag}" if run_tag else ""
    # same-kind member, anchored: part-<digits>[-tag] + base_ext [+ .gz]
    # (anchoring base_ext to the end keeps .warc from matching .warc.wet)
    pat = re.compile(
        r"^part-\d+"
        + (re.escape(tag) if run_tag else r"(-.+)?")
        + re.escape(base_ext)
        + r"(\.gz)?$"
    )
    colliding = [f for f in os.listdir(out_dir) if pat.match(f)]
    if colliding:
        if not overwrite:
            raise FileExistsError(
                f"{out_dir} already holds {len(colliding)} {base_ext}[.gz] "
                "member(s) this export would collide with or leave behind "
                "as url duplicates for the glob readers. Use a fresh "
                "directory, pass run_tag= to write run-scoped member names "
                "alongside, or overwrite=True to replace them."
            )
        for f in colliding:
            os.remove(os.path.join(out_dir, f))

    def write_group(key, pdf):
        fid = int(key[0])
        path = os.path.join(out_dir, f"part-{fid:05d}{tag}{ext}")
        pdf = pdf.sort_values("url")
        enc = (
            (lambda b: gzip.compress(b, mtime=0)) if compress else (lambda b: b)
        )
        blob = b"".join(
            enc(
                warc_record_bytes(
                    r.url, r.warc_ts.to_pydatetime(), payload_fn(r), **rec_kwargs
                )
            )
            for r in pdf.itertuples()
        )
        with open(path, "wb") as f:
            f.write(blob)
        return pd.DataFrame(
            [[path, len(pdf), len(blob)]],
            columns=["file", "n_records", "n_bytes"],
        )

    manifest = (
        rows.withColumn("__fid", F.pmod(F.xxhash64("url"), F.lit(n_files)))
        .groupBy("__fid")
        .applyInPandas(write_group, schema=MANIFEST_SCHEMA)
        .collect()
    )
    return [r.asDict() for r in manifest]


def write_wet(
    extracted: DataFrame,
    out_dir: str,
    n_files: int = 8,
    compress: bool = False,
    text_col: str = "extracted_text",
    run_tag: str | None = None,
    overwrite: bool = False,
) -> list[dict]:
    """WET sink: write (url, warc_ts, <text_col>) rows as WARC
    *conversion* records (`WARC-Type: conversion`, `Content-Type:
    text/plain`) — the .warc.wet artifact Common Crawl publishes for
    extracted text, produced here straight from the extraction job's
    output table. Same member layout/determinism as `write_warc`
    (url-hash bucket per member, executor-local build+write, url-sorted
    records, per-record gzip when compressed so CDX ranges stay
    independently gunzippable)."""
    rows = extracted.select(
        "url", "warc_ts", F.encode(F.col(text_col), "UTF-8").alias("wet")
    )
    return _write_members(
        rows,
        out_dir,
        n_files,
        compress,
        base_ext=".warc.wet",
        payload_fn=lambda r: bytes(r.wet),
        rec_kwargs={"rec_type": "conversion", "content_type": "text/plain"},
        run_tag=run_tag,
        overwrite=overwrite,
    )


WET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """(url, warc_ts, text) from a .warc.wet file / dir of members —
    the same Content-Length-driven parser as `read_warc` (WET records
    are WARC records), with the payload decoded as UTF-8 text."""
    glob = os.path.join(path, "*.warc.wet*") if os.path.isdir(path) else path
    files = spark.read.format("binaryFile").load(glob)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                recs = [
                    (u, ts, payload.decode("utf-8", errors="replace"))
                    for u, ts, payload, _, _ in _iter_member(
                        row["path"], bytes(row["content"])
                    )
                ]
                yield pd.DataFrame(recs, columns=["url", "warc_ts", "text"])

    return files.select("path", "content").mapInPandas(parse, schema=WET_SCHEMA)


def fetch_records(spark: SparkSession, cdx: DataFrame, urls) -> DataFrame:
    """Selective record fetch via the CDX index: read ONLY the byte
    ranges of the target urls instead of rescanning whole members —
    the cheap path for re-extracting a url subset (a fixed bug, a
    recrawl diff, an eval set) out of a 100 TB crawl.

    Plan shape: equi-join CDX↔targets on url (target sets are tiny
    next to the index — AQE broadcasts them), repartition by member
    file so each file opens once per task, then one mapInPandas doing
    seek+read per range (on an object store these become ranged GETs;
    per-record-gzip members make each range standalone-gunzippable,
    which is exactly why Common Crawl writes them that way).
    """
    if isinstance(urls, (list, tuple)):
        urls_df = spark.createDataFrame([(u,) for u in urls], ["url"])
    else:
        urls_df = urls.select("url")
    hits = cdx.join(urls_df, "url").select("url", "file", "offset", "length")

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, grp in pdf.groupby("file"):
                local = path.replace("file:", "")
                recs = []
                with open(local, "rb") as fh:
                    for r in grp.sort_values("offset").itertuples():
                        fh.seek(r.offset)
                        blob = fh.read(r.length)
                        if local.endswith(".gz"):
                            blob = gzip.decompress(blob)
                        parsed = list(iter_warc_records(blob))
                        if len(parsed) == 1:
                            u, ts, payload, _, _ = parsed[0]
                            recs.append((u, ts, payload))
                yield pd.DataFrame(recs, columns=["url", "warc_ts", "html"])

    return hits.repartition("file").mapInPandas(fetch, schema=PAGES_SCHEMA)


def with_sniffed_lang(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Derive `lang` from the document's own `<html lang=..>` attribute
    (WARC carries no language column — real pipelines sniff it). Pure
    codegen: decode only the first 256 bytes, one regexp_extract."""
    head = F.substring(F.col(html_col).cast("string"), 1, 256)
    lang = F.regexp_extract(head, '<html[^>]*\\slang="([A-Za-z-]+)"', 1)
    return pages.withColumn(
        "lang", F.when(lang == "", "en").otherwise(F.lower(lang))
    )

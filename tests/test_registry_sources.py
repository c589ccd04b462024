"""Registry-built pipelines, alternative sources/sinks, and metrics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from paddleocr_spark.operators.extract import extract
from paddleocr_spark.operators.registry import (
    DEFAULT_PIPELINE_SPEC,
    build_pipeline,
)
from paddleocr_spark.sources.readers import (
    read_pages,
    sampled_pages,
    write_jsonl_results,
)


@pytest.fixture()
def pages(spark, smoke_dir):
    return read_pages(spark, os.path.join(smoke_dir, "pages.parquet"))


def test_registry_default_equals_extract(spark, pages):
    pipe = build_pipeline(DEFAULT_PIPELINE_SPEC)
    a = pipe(pages).orderBy("url").collect()
    b = extract(pages).orderBy("url").collect()
    assert a == b and len(a) > 0


def test_registry_param_override_changes_result(spark, pages):
    strict = build_pipeline(
        [
            {"op": "detect_blocks"},
            {"op": "score_blocks"},
            {"op": "filter_candidates", "det_box_thresh": 0.99},
            {"op": "merge_spans"},
            {"op": "assemble"},
        ]
    )
    total_kept = strict(pages).agg(F.sum("n_blocks_kept")).collect()[0][0]
    base_kept = extract(pages).agg(F.sum("n_blocks_kept")).collect()[0][0]
    assert total_kept < base_kept


def test_registry_unknown_op_fails_fast():
    with pytest.raises(ValueError, match="unknown operator"):
        build_pipeline([{"op": "nope"}])
    with pytest.raises(ValueError, match="unknown PipelineConfig"):
        build_pipeline([{"op": "extract", "not_a_param": 1}])
    with pytest.raises(ValueError, match="score_mode"):
        build_pipeline([{"op": "score_blocks", "score_mode": "Slow"}])


def test_jsonl_source_roundtrip(spark, pages, tmp_path):
    jl = str(tmp_path / "pages.jsonl")
    pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts"),
        F.base64("html").alias("html_b64"),
        "text",
        "lang",
    ).coalesce(1).write.mode("overwrite").json(jl)
    back = read_pages(spark, jl, fmt="jsonl")
    a = extract(back).orderBy("url").select("url", "extracted_text").collect()
    b = extract(pages).orderBy("url").select("url", "extracted_text").collect()
    assert a == b


def test_sampled_pages_deterministic(spark, pages):
    s1 = sampled_pages(pages, {"en": 0.5, "zh": 1.0, "ar": 0.0}, seed=7)
    s2 = sampled_pages(pages, {"en": 0.5, "zh": 1.0, "ar": 0.0}, seed=7)
    u1 = sorted(r["url"] for r in s1.select("url").collect())
    u2 = sorted(r["url"] for r in s2.select("url").collect())
    assert u1 == u2
    assert s1.filter(F.col("lang") == "ar").count() == 0


def test_jsonl_sink(spark, pages, tmp_path):
    out = str(tmp_path / "results")
    write_jsonl_results(extract(pages.limit(20)), out)
    lines = spark.read.text(out).collect()
    assert len(lines) == 20
    rec = json.loads(lines[0]["value"])
    assert {"url", "extracted_text", "spans", "n_blocks_kept"} <= set(rec)


def test_rec_metric_known_values(spark):
    from paddleocr_spark.metrics import rec_metric

    pred = spark.createDataFrame(
        [("a", "hello"), ("b", "kitten"), ("c", "")],
        "url string, extracted_text string",
    )
    gold = spark.createDataFrame(
        [("a", "hello"), ("b", "sitting"), ("c", "")],
        "url string, golden_text string",
    )
    r = rec_metric(pred, gold).collect()[0]
    assert r["n_docs"] == 3
    assert abs(r["exact_acc"] - 2 / 3) < 1e-12
    # b: lev 3 / max 7; a and c: similarity 1.0
    assert abs(r["norm_edit_sim"] - (1.0 + (1 - 3 / 7) + 1.0) / 3) < 1e-12


def test_det_metric_known_values(spark):
    from paddleocr_spark.metrics import det_metric

    pred = spark.createDataFrame(
        [("a", 0, 10), ("a", 20, 30), ("b", 0, 5)], "url string, start int, end int"
    )
    gold = spark.createDataFrame(
        [("a", 0, 10), ("a", 100, 110)], "url string, start int, end int"
    )
    r = det_metric(pred, gold).collect()[0]
    assert r["n_match"] == 1 and r["n_pred"] == 3 and r["n_gold"] == 2
    assert abs(r["precision"] - 1 / 3) < 1e-12 and abs(r["recall"] - 0.5) < 1e-12


def test_labels_tsv_source_drops_malformed(spark, tmp_path):
    """SimpleDataSet analog: tab-separated (url, label), bad lines
    skipped not fatal."""
    from paddleocr_spark.sources.readers import read_labels_tsv

    p = tmp_path / "labels.tsv"
    p.write_text(
        "http://a/1\tcontent\n"
        "http://a/2\tboilerplate\n"
        "no_tab_on_this_line\n"
        "http://a/3\tcontent\n"
    )
    got = read_labels_tsv(spark, str(p))
    rows = {(r["url"], r["label"]) for r in got.collect()}
    assert rows == {
        ("http://a/1", "content"),
        ("http://a/2", "boilerplate"),
        ("http://a/3", "content"),
    }


def test_latest_crawl_keeps_newest_per_url(spark):
    from datetime import datetime

    from paddleocr_spark.sources.readers import latest_crawl

    rows = [
        ("u1", datetime(2024, 1, 1), b"old"),
        ("u1", datetime(2024, 6, 1), b"new"),
        ("u2", datetime(2024, 3, 1), b"only"),
        # same-ts tie: longer payload wins deterministically
        ("u3", datetime(2024, 2, 1), b"short"),
        ("u3", datetime(2024, 2, 1), b"longer-payload"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    got = {r["url"]: bytes(r["html"]) for r in latest_crawl(df).collect()}
    assert got == {"u1": b"new", "u2": b"only", "u3": b"longer-payload"}
    # partitioning-invariant
    got7 = {
        r["url"]: bytes(r["html"])
        for r in latest_crawl(df.repartition(7)).collect()
    }
    assert got7 == got


def test_sql_surface_matches_dataframe_path(spark, smoke_dir):
    """spark.sql('SELECT detect_blocks(html) ...') == with_blocks(df):
    the engine is drivable from pure SQL."""
    import os

    from paddleocr_spark.operators.detect_stage import register_sql, with_blocks

    pages = spark.read.parquet(os.path.join(smoke_dir, "pages.parquet"))
    pages.createOrReplaceTempView("t_pages_sql")
    register_sql(spark)
    got = spark.sql(
        "SELECT url, detect_blocks(html) AS blocks FROM t_pages_sql"
    )
    want = with_blocks(pages.select("url", "lang", "html")).select("url", "blocks")
    g = {r["url"]: [tuple(b) for b in r["blocks"]] for r in got.collect()}
    w = {r["url"]: [tuple(b) for b in r["blocks"]] for r in want.collect()}
    assert g == w and len(g) > 0


def test_det_metric_single_pass_and_lazy(spark):
    """det_metric must build ONE lazy plan (round 1 eagerly ran three
    count() jobs inside the function): constructing the result frame
    triggers no Spark jobs, and spans overlapping across bucket
    boundaries still match under the banded join."""
    from paddleocr_spark.metrics import det_metric

    # spans straddling the 1000-char bucket boundary on both sides
    pred = spark.createDataFrame(
        [("a", 950, 1050), ("a", 3000, 3010)], "url string, start int, end int"
    )
    gold = spark.createDataFrame(
        [("a", 960, 1040)], "url string, start int, end int"
    )
    sc = spark.sparkContext
    sc.setJobGroup("det_metric_lazy", "laziness probe")
    try:
        df = det_metric(pred, gold)
        assert sc.statusTracker().getJobIdsForGroup("det_metric_lazy") == []
        r = df.collect()[0]
    finally:
        sc.setJobGroup(None, None)
    # iou = 80/100 >= 0.5 -> the straddling pair matches exactly once
    assert r["n_match"] == 1 and r["n_pred"] == 2 and r["n_gold"] == 1
    assert abs(r["precision"] - 0.5) < 1e-12 and abs(r["recall"] - 1.0) < 1e-12


def _png_bytes(w, h, colortype=2, depth=8):
    return (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([depth, colortype, 0, 0, 0])
    )


def _gif_bytes(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")


def _jpeg_bytes(w, h, ch=3, extra_segments=True):
    out = b"\xff\xd8"
    if extra_segments:  # APP0 + a fill byte before the SOF, like real files
        out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        out += b"\xff"  # fill byte
    out += (
        b"\xff\xc0" + (8 + 3 * ch).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ch])
    )
    return out


def _bmp_bytes(w, h, bpp=24):
    return (
        b"BM" + (54).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
    )


def test_decode_image_header_real_formats():
    """ADVICE/VERDICT r3: the decode stub is replaced by a real,
    dependency-free header parser — PNG IHDR, GIF logical screen, JPEG
    SOF scan (past APP segments and fill bytes), BMP info header —
    with hand-computable fixture bytes (the reference's img_decode /
    check_and_read decode real headers, ppocr/utils/utility.py:108-140)."""
    from paddleocr_spark.functions.multimodal import decode_image_header as d

    assert d(_png_bytes(640, 480)) == (640, 480, 3, "png")
    assert d(_png_bytes(1, 1, colortype=6)) == (1, 1, 4, "png")
    assert d(_png_bytes(7, 9, colortype=0)) == (7, 9, 1, "png")
    assert d(_gif_bytes(320, 200)) == (320, 200, 3, "gif")
    assert d(_jpeg_bytes(800, 600)) == (800, 600, 3, "jpeg")
    assert d(_jpeg_bytes(12, 34, ch=1, extra_segments=False)) == (12, 34, 1, "jpeg")
    assert d(_bmp_bytes(100, 50)) == (100, 50, 3, "bmp")
    assert d(_bmp_bytes(100, -50, bpp=32)) == (100, 50, 4, "bmp")  # top-down
    # corrupt / hostile headers never parse (and never raise)
    assert d(b"") is None
    assert d(b"\x89PNG\r\n\x1a\x00garbage") is None
    assert d(_png_bytes(0, 5)) is None                      # zero dim
    assert d(b"\xff\xd8\x00\x00") is None                   # desync marker
    assert d(b"GIF89a\x00\x00\x00\x00") is None             # zero dims
    assert d(b"BM" + b"\x00" * 10) is None                  # truncated
    assert d(b"BMuch text that starts with BM but is prose") is None
    assert d("not bytes") is None


def test_extract_media_meta_mixed_real_and_stub(spark):
    """mapInPandas end-to-end over a batch mixing real image headers and
    unknown payloads: real headers decode to their encoded dims, unknown
    bytes fall back to the deterministic stub."""
    from paddleocr_spark.functions.multimodal import extract_media_meta

    rows = [
        (1, _png_bytes(111, 222) + b"pixels"),
        (2, _gif_bytes(12, 34)),
        (3, _jpeg_bytes(56, 78)),
        (4, b"plain text payload"),  # 18 bytes -> stub
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_media_meta(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["format"]) == (111, 222, "png")
    assert got[1]["n_bytes"] == len(rows[0][1])
    assert (got[2]["width"], got[2]["height"], got[2]["format"]) == (12, 34, "gif")
    assert (got[3]["width"], got[3]["height"], got[3]["format"]) == (56, 78, "jpeg")
    n = 18
    assert (got[4]["width"], got[4]["height"]) == (64 + n % 512, 64 + n * 7 % 512)
    assert all(got[i]["channels"] == 3 for i in rows and got)


def _wav_bytes(ch=2, rate=44100, junk_first=False, data=b"abc"):
    import struct

    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    chunks = b""
    if junk_first:  # odd-sized chunk exercises RIFF word-alignment
        chunks += b"JUNK" + struct.pack("<I", 5) + b"12345\x00"
    chunks += b"fmt " + struct.pack("<I", 16) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _mp4_bytes(w=640, h=360, version=0, free_first=False, text=b"xyz"):
    import struct

    body = (
        bytes([version, 0, 0, 0])
        + b"\x00" * (32 if version == 1 else 20)
        + b"\x00" * 8 + b"\x00" * 8 + b"\x00" * 36
        + struct.pack(">II", w << 16, h << 16)
    )
    tkhd = struct.pack(">I", 8 + len(body)) + b"tkhd" + body
    trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    inner = trak
    if free_first:
        inner = struct.pack(">I", 12) + b"free" + b"\x00" * 4 + trak
    moov = struct.pack(">I", 8 + len(inner)) + b"moov" + inner
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    mdat = struct.pack(">I", 8 + len(text)) + b"mdat" + text
    return ftyp + moov + mdat


def _webp_bytes(w=100, h=50, alpha=True, text=b"q"):
    import struct

    hdr = (
        b"VP8X" + struct.pack("<I", 10)
        + bytes([0x10 if alpha else 0]) + b"\x00" * 3
        + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
        + text
    )
    return b"RIFF" + struct.pack("<I", 4 + len(hdr)) + b"WEBP" + hdr


def _flac_bytes(rate=44100, ch=2):
    b18 = rate >> 12
    b19 = (rate >> 4) & 0xFF
    b20 = ((rate & 0xF) << 4) | ((ch - 1) << 1)
    si = (
        bytes([16, 0, 16, 0]) + b"\x00" * 6
        + bytes([b18, b19, b20, 0xF0]) + b"\x00" * 4 + b"\x00" * 16
    )
    return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + si


def _mp3_bytes(sr_idx=0, mono=False, id3=True, text=b"frames"):
    frame = bytes([0xFF, 0xFB, (9 << 4) | (sr_idx << 2), 0xC0 if mono else 0])
    tag = b"ID3" + bytes([4, 0, 0]) + b"\x00\x00\x00\x00" if id3 else b""
    return tag + frame + text


def test_decode_av_header_real_containers():
    """AV twin of decode_image_header: WAV RIFF fmt chunk (channels +
    sample rate, skipping leading chunks with word-aligned advance),
    MP4 ISO-BMFF box walk to moov/trak/tkhd (v0 and v1 layouts, 16.16
    fixed dims, non-tkhd siblings skipped), WebP VP8X canvas dims +
    alpha flag. Corrupt/truncated/hostile bytes parse to None, never
    raise, never loop."""
    import struct

    from paddleocr_spark.functions.multimodal import decode_av_header as d

    assert d(_wav_bytes()) == ("audio", None, None, 2, 44100, "wav")
    assert d(_wav_bytes(1, 8000, junk_first=True)) == (
        "audio", None, None, 1, 8000, "wav")
    assert d(_mp4_bytes()) == ("video", 640, 360, None, None, "mp4")
    assert d(_mp4_bytes(1920, 1080, version=1)) == (
        "video", 1920, 1080, None, None, "mp4")
    assert d(_mp4_bytes(12, 34, free_first=True)) == (
        "video", 12, 34, None, None, "mp4")
    assert d(_webp_bytes()) == ("image", 100, 50, 4, None, "webp")
    assert d(_webp_bytes(333, 222, alpha=False)) == (
        "image", 333, 222, 3, None, "webp")
    assert d(_flac_bytes()) == ("audio", None, None, 2, 44100, "flac")
    assert d(_flac_bytes(192000, 8)) == ("audio", None, None, 8, 192000, "flac")
    assert d(_mp3_bytes()) == ("audio", None, None, 2, 44100, "mp3")
    assert d(_mp3_bytes(2, mono=True, id3=False)) == (
        "audio", None, None, 1, 32000, "mp3")
    assert d(bytes([0xFF, 0xF3, 9 << 4, 0])) == (  # MPEG2 rate table
        "audio", None, None, 2, 22050, "mp3")
    # corrupt / hostile
    assert d(b"") is None
    assert d(_wav_bytes(rate=99_999_999)) is None           # absurd rate
    assert d(_wav_bytes()[:20]) is None                     # truncated
    assert d(_mp4_bytes()[:40]) is None                     # truncated
    assert d(b"RIFFxxxxWAVE") is None                       # no fmt chunk
    assert d(_flac_bytes()[:15]) is None                    # truncated
    assert d(bytes([0xFF, 0xFB, (9 << 4) | (3 << 2), 0])) is None  # rsvd rate
    assert d(bytes([0xFF, 0xFB, 0x00, 0x00])) is None       # free bitrate
    assert d(b"ID3\x04\x00\x00\xff\x00\x00\x00x") is None   # bad syncsafe
    assert d(bytes([0xFF, 0xEE, 0, 0])) is None             # not layer III
    # moov child box declares size 3 (< header): must stop, not loop
    bad = (struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4
           + struct.pack(">I", 16) + b"moov" + struct.pack(">I", 3) + b"trak")
    assert d(bad) is None
    assert d("not bytes") is None


def test_extract_av_meta_mixed(spark):
    """mapInPandas end-to-end over a batch mixing WAV/MP4/WebP and an
    unknown payload: recognized containers decode to their encoded
    values, unknown rows are explicit kind='unknown' with null fields."""
    from paddleocr_spark.functions.multimodal import extract_av_meta

    rows = [
        (1, _wav_bytes(2, 22050)),
        (2, _mp4_bytes(320, 240)),
        (3, _webp_bytes(64, 32, alpha=False)),
        (4, b"\x00plain text payload"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_av_meta(df).collect()}
    assert (got[1]["kind"], got[1]["channels"], got[1]["sample_rate"],
            got[1]["format"]) == ("audio", 2, 22050, "wav")
    assert got[1]["width"] is None and got[1]["height"] is None
    assert (got[2]["kind"], got[2]["width"], got[2]["height"],
            got[2]["format"]) == ("video", 320, 240, "mp4")
    assert got[2]["sample_rate"] is None
    assert (got[3]["kind"], got[3]["width"], got[3]["height"],
            got[3]["channels"], got[3]["format"]) == ("image", 64, 32, 3, "webp")
    assert got[4]["kind"] == "unknown" and got[4]["format"] is None
    assert all(got[i]["n_bytes"] == len(p) for i, p in rows)


def test_labels_tsv_verbatim_split_semantics(spark, tmp_path):
    """The reference parses label lines with a plain tab split (url =
    field 0, label = field 1, extras ignored); CSV parsing stripped
    quotes, mangled escapes, and dropped >2-field lines entirely."""
    from paddleocr_spark.sources.readers import read_labels_tsv

    p = tmp_path / "labels.tsv"
    p.write_text(
        'img1.jpg\t"quoted text"\n'
        "img2.jpg\tlabel\textra\n"
        "nolabel_line\n"
        "img3.jpg\ta\\nb\n"
    )
    rows = {r["url"]: r["label"] for r in read_labels_tsv(spark, str(p)).collect()}
    assert rows == {
        "img1.jpg": '"quoted text"',  # quotes verbatim
        "img2.jpg": "label",          # extra field ignored, row kept
        "img3.jpg": "a\\nb",          # escapes untouched
    }


def test_jsonl_sink_always_writes_every_field(spark, tmp_path):
    """to_json's default ignoreNullFields omitted a null column's key
    from just that line; every field must always be present."""
    import json as _json

    from paddleocr_spark.sources.readers import write_jsonl_results

    df = spark.createDataFrame(
        [("u1", None, None, 0), ("u2", "text", None, 1)],
        "url string, extracted_text string, "
        "spans array<struct<block_id:int>>, n_blocks_kept int",
    )
    out = str(tmp_path / "jsonl")
    write_jsonl_results(df, out)
    lines = [
        _json.loads(r["value"])
        for r in spark.read.text(out).collect()
    ]
    for rec in lines:
        assert set(rec) == {"url", "extracted_text", "spans", "n_blocks_kept"}


def test_jsonl_pages_missing_optional_key_reads_as_null(spark, tmp_path):
    """The jsonl pages branch now carries an explicit schema: a file
    where every row omits 'lang' reads with null lang (the parquet
    branch's behavior) instead of UNRESOLVED_COLUMN."""
    import base64 as _b64
    import json as _json

    from paddleocr_spark.sources.readers import read_pages

    p = tmp_path / "pages.jsonl"
    rec = {
        "url": "http://x/1",
        "warc_ts": "2024-01-01 00:00:00",
        "html_b64": _b64.b64encode(b"<p>hello there</p>").decode(),
        "text": None,
    }
    p.write_text(_json.dumps(rec) + "\n")
    df = read_pages(spark, str(p), fmt="jsonl")
    row = df.collect()[0]
    assert row["lang"] is None and bytes(row["html"]) == b"<p>hello there</p>"


def test_latest_crawl_total_order_tiebreak(spark):
    """Rows equal in (url, warc_ts, html) but differing in text/lang
    must resolve deterministically (whole-row key), not by shuffle
    arrival."""
    import datetime as _dt

    from paddleocr_spark.sources.readers import latest_crawl

    ts = _dt.datetime(2024, 1, 1)
    rows = [("u", ts, b"<p>x</p>", "A", "en"), ("u", ts, b"<p>x</p>", "B", "de")]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    picks = {
        latest_crawl(df.repartition(n)).collect()[0]["text"] for n in (1, 3, 7)
    }
    assert len(picks) == 1


def test_rec_metric_scores_all_golden_samples(spark):
    """A doc the pipeline dropped (or a NULL prediction) must score as
    an empty prediction, not silently leave the averages (inner join
    could lose 999 of 1000 docs and still report exact_acc 1.0)."""
    from paddleocr_spark.metrics import rec_metric

    gold = spark.createDataFrame(
        [("a", "hello"), ("b", "world"), ("c", "gone")],
        "url string, golden_text string",
    )
    pred = spark.createDataFrame(
        [("a", "hello"), ("b", None)], "url string, extracted_text string"
    )
    r = rec_metric(pred, gold).collect()[0]
    assert r["n_docs"] == 3
    assert abs(r["exact_acc"] - 1 / 3) < 1e-9
    assert r["norm_edit_sim"] < 0.67  # two failures drag the mean down


def test_det_metric_matching_is_one_to_one(spark):
    """Each golden span matches at most one prediction and vice versa
    (the reference evaluator's rule): two preds over one gold must not
    push recall past 1.0, and empty inputs yield zero counts, not
    NULLs."""
    from paddleocr_spark.metrics import det_metric

    gold = spark.createDataFrame([("u", 0, 100)], "url string, start int, end int")
    pred = spark.createDataFrame(
        [("u", 0, 60), ("u", 40, 100)], "url string, start int, end int"
    )
    # pred [0,60): inter 60 / union 100 = 0.6; [40,100): 0.6 — both candidates
    r = det_metric(pred, gold, min_overlap=0.5).collect()[0]
    assert r["n_match"] == 1 and r["recall"] == 1.0 and r["precision"] == 0.5

    empty = spark.createDataFrame([], "url string, start int, end int")
    z = det_metric(empty, empty).collect()[0]
    assert (z["n_pred"], z["n_gold"], z["n_match"]) == (0, 0, 0)


def test_table_match_filtered_fixture_drops_every_17th(spark):
    """The filtered variant's every-17th shifted boxes must actually be
    ABSENT from the output for every grid row (the old -60 shift left
    row-2 boxes above the filter line, so a third of the designed drop
    cases never exercised the drop path)."""
    import paddleocr_spark.queries as Q

    sf = "/root/testdata/sf0.001"
    out = Q.QUERIES["table_match_filtered"](spark, sf)
    kept_ids = {r["ocr_id"] for r in out.collect()}
    all_ids = {
        r["ocr_id"]
        for r in Q.QUERIES["table_match"](spark, sf).collect()
    }
    shifted = {i for i in all_ids if i % 17 == 0}
    assert shifted and not (shifted & kept_ids)
    assert kept_ids == all_ids - shifted


def test_ensure_pages_param_mismatch_raises(tmp_path, monkeypatch):
    """A cached corpus generated with different parameters must fail
    loudly, never be silently returned (a heavy bench measuring base
    pages)."""
    import pytest

    import paddleocr_spark.sources.pages as P

    monkeypatch.setattr(P, "DATA_ROOT", str(tmp_path))
    d = P.ensure_pages("/x/sf0.001", n_rows=8)
    assert P.ensure_pages("/x/sf0.001", n_rows=8) == d  # cache hit
    with pytest.raises(ValueError, match="generated with"):
        P.ensure_pages("/x/sf0.001", n_rows=16)
    with pytest.raises(ValueError, match="generated with"):
        P.ensure_pages("/x/sf0.001", n_rows=8, profile="heavy")

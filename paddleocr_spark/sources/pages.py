"""Deterministic synthetic Common-Crawl-style ``pages`` table + goldens.

Input shape per BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

The generator is seeded (per-row seed derived from md5, never Python's
salted ``hash``), so the same sf always produces byte-identical pages,
and the pure-Python oracle (core/oracle.py) produces byte-identical
goldens — the analog of the reference's golden regression files
(test_tipc/results/python_ppocr_det_mobile_results_fp32.txt).

Pathological rows exercised (FIXTURES.md §1):
- adjacent duplicate paragraphs (CTC dedup), whitespace-only blocks that
  pass detection (CTC blank drop), exact-threshold scores (0.6 boundary),
  empty bodies, giant single blocks (chunk split + rejoin), two-column
  layout sections with fragmented boxes, tables with stray fragments,
  Zipf-skewed hosts (url-hash parts stay balanced), and 'ar' pages (RTL
  run reversal).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from paddleocr_spark.config import DEFAULT
from paddleocr_spark.core.oracle import detect_blocks_rows, extract_page
from paddleocr_spark.core.tokenizer import _TAG_RE
from paddleocr_spark.core.text import normalize_ws

DATA_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".data", "pages")

ROWS_BY_SF = {"0.001": 300, "0.01": 3000, "0.1": 30000}

_EN = (
    "the quick brown fox jumps over a lazy dog while many readers enjoy "
    "long form articles about science history culture and technology that "
    "explain complex ideas with clear simple language and careful evidence"
).split()
_ZH = list("数据处理引擎在大规模集群上高效运行需要正确的分区与合并策略文本抽取")
_AR = "المحرك يعالج النصوص العربية بدقة عالية في كل صفحة من صفحات الويب الكبيرة".split()
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _seed_for(i: int) -> int:
    return int(hashlib.md5(f"page-{i}".encode()).hexdigest()[:12], 16)


# Content-volume multiplier per profile. 'base' pages are ~4 KB; 'heavy'
# approximates real Common-Crawl HTML (tens of KB, many more blocks) —
# used for throughput/scaling benches so per-doc compute dominates fixed
# overhead the way it does on real pages.
PROFILES = {"base": 1, "heavy": 8}


def _sentence(rnd: random.Random, words, n: int) -> str:
    return " ".join(rnd.choice(words) for _ in range(n))


def _nav_links(rnd: random.Random, n: int) -> str:
    return " ".join(
        f'<a href="/s/{rnd.randrange(100)}">{_sentence(rnd, _EN, 2)}</a>'
        for _ in range(n)
    )


def _make_html(i: int, rnd: random.Random, lang: str, mult: int = 1) -> str:
    words = {"en": _EN, "zh": _ZH, "ar": _AR}[lang]
    parts = [f'<!doctype html><html lang="{lang}"><head><title>page {i}</title></head><body>']

    if i % 17 == 6:  # empty body
        parts.append("</body></html>")
        return "\n".join(parts)

    parts.append(f"<header>site {i % 50} <a href=\"/\">{_sentence(rnd, _EN, 3)}</a></header>")
    parts.append(f"<nav>{_nav_links(rnd, rnd.randrange(4, 9))}</nav>")

    n_paras = rnd.randrange(1, 6) * mult
    for p in range(n_paras):
        sent = _sentence(rnd, words, rnd.randrange(12, 40))
        parts.append(f"<p>{sent}</p>")
        if i % 7 == 3 and p == 0:
            # adjacent duplicate with different raw whitespace -> same
            # normalized text, different raw score -> CTC collapse + mean
            parts.append(f"<p>  {sent.replace(' ', '  ', 1)} </p>")

    if i % 11 == 4:
        parts.append("<p>" + " " * 20 + "</p>")  # blank token past detection

    if i % 13 == 5:
        # exact det_box_thresh boundary: (22-4)/(22+8) == 0.6 -> kept
        body = "x" * 14 + '<a href="/b">zzzz</a>' + "y" * 4
        parts.append(f"<blockquote>{body}</blockquote>")
        # just below: (17-4)/(17+8) = 0.52 -> dropped at box_thresh but > det_thresh
        body2 = "x" * 9 + '<a href="/b">zzzz</a>' + "y" * 4
        parts.append(f"<blockquote>{body2}</blockquote>")

    if i % 19 == 7:
        giant = _sentence(rnd, words, 1600)  # >> chunk_limit, link-free
        parts.append(f"<pre>{giant}</pre>")

    if i % 5 == 2:  # two-column layout section
        pw = 1000
        blocks = []
        y = 10
        for r in range(rnd.randrange(2, 4)):
            lt = _sentence(rnd, words, rnd.randrange(6, 14))
            rt = _sentence(rnd, words, rnd.randrange(6, 14))
            blocks.append(f'<p data-bbox="40,{y},430,{y + 40}">{lt}</p>')
            blocks.append(f'<p data-bbox="520,{y},960,{y + 40}">{rt}</p>')
            y += 60
        # fragmented pair on one visual line (merge_fragmented target)
        fa = _sentence(rnd, words, 4)
        fb = _sentence(rnd, words, 4)
        blocks.append(f'<p data-bbox="40,{y},300,{y + 30}">{fa}</p>')
        blocks.append(f'<p data-bbox="305,{y},560,{y + 30}">{fb}</p>')
        y += 50
        # trailing full-width single block (last-element rule)
        blocks.append(
            f'<h2 data-bbox="100,{y},900,{y + 40}">{_sentence(rnd, words, 8)}</h2>'
        )
        parts.append(f'<div class="layout" data-pagew="{pw}">' + "".join(blocks) + "</div>")

    if i % 6 == 1:  # table with stray fragments
        rows = rnd.randrange(2, 4)
        cols = rnd.randrange(2, 4)
        t = []
        y = 100
        cells = []
        for r in range(rows):
            t.append("<tr>")
            x = 100
            for c in range(cols):
                cell = f'<td data-bbox="{x},{y},{x + 90},{y + 28}">{_sentence(rnd, _EN, 2)}</td>'
                t.append(cell)
                cells.append((x, y))
                x += 100
            t.append("</tr>")
            y += 30
        # stray fragments: one inside first cell area (multi-match), one above table (filtered)
        cx, cy = cells[0]
        t.append(f'<span data-bbox="{cx + 2},{cy + 2},{cx + 60},{cy + 20}">{_sentence(rnd, _EN, 2)}</span>')
        t.append(f'<span data-bbox="{cx + 30},{cy + 4},{cx + 88},{cy + 24}">{_sentence(rnd, _EN, 1)}</span>')
        t.append(f'<span data-bbox="10,10,80,30">above {i}</span>')
        parts.append("<table>" + "".join(t) + "</table>")

    # medium-link-density block: past det_thresh, below box_thresh
    mixed = _sentence(rnd, _EN, 6) + f' <a href="/m">{_sentence(rnd, _EN, 3)}</a>'
    parts.append(f"<li>{mixed}</li>")

    parts.append(f"<aside>{_nav_links(rnd, 5)}</aside>")
    parts.append(f"<footer>{_nav_links(rnd, 3)} copyright {2000 + i % 25}</footer>")
    parts.append("</body></html>")
    return "\n".join(parts)


def gen_page(i: int, profile: str = "base") -> dict:
    rnd = random.Random(_seed_for(i))
    r = rnd.random()
    lang = "en" if r < 0.7 else ("zh" if r < 0.9 else "ar")
    # Zipf-ish host skew: host 0 is hot (url-hash parts must stay balanced)
    host = int(200 * (rnd.random() ** 3))
    url = f"https://host{host}.example/p/{i}"
    html = _make_html(i, rnd, lang, PROFILES[profile])
    return dict(
        url=url,
        warc_ts=_EPOCH + dt.timedelta(seconds=i),
        html=html.encode("utf-8"),
        text=normalize_ws(_TAG_RE.sub(" ", html)),
        lang=lang,
    )


PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def sf_name(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base[2:] if base.startswith("sf") else base


def pages_dir_for(sf_dir: str) -> str:
    return os.path.join(DATA_ROOT, "sf" + sf_name(sf_dir))


GOLDEN_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("extracted_text", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("block_id", pa.int32()),
                        ("start", pa.int32()),
                        ("end", pa.int32()),
                        ("score", pa.float64()),
                    ]
                )
            ),
        ),
        ("n_blocks_detected", pa.int32()),
        ("n_blocks_kept", pa.int32()),
    ]
)

BLOCKS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("block_id", pa.int32()),
        ("tag", pa.string()),
        ("depth", pa.int32()),
        ("start", pa.int32()),
        ("end", pa.int32()),
        ("text_len", pa.int32()),
        ("link_text_len", pa.int32()),
        ("score", pa.float64()),
        ("kept", pa.bool_()),
        ("branch", pa.string()),
        ("layout", pa.string()),
        ("parent_id", pa.int32()),
    ]
)


def _gen_chunk(args: tuple[int, int, str, bool]):
    """One worker's slice: (pages table, golden table, blocks table|None).
    Pure function of the index range — parallel generation is
    byte-identical to sequential."""
    lo, hi, profile, want_blocks = args
    pages, golden, gblocks = [], [], []
    for i in range(lo, hi):
        p = gen_page(i, profile)
        pages.append(p)
        r = extract_page(p["url"], p["html"], p["lang"], DEFAULT)
        golden.append(
            dict(
                url=r.url,
                extracted_text=r.extracted_text,
                spans=r.spans,
                n_blocks_detected=r.n_blocks_detected,
                n_blocks_kept=r.n_blocks_kept,
            )
        )
        if want_blocks:
            gblocks.extend(detect_blocks_rows(p["url"], p["html"], DEFAULT))
    return (
        pa.Table.from_pylist(pages, schema=PAGES_SCHEMA),
        pa.Table.from_pylist(golden, schema=GOLDEN_SCHEMA),
        pa.Table.from_pylist(gblocks, schema=BLOCKS_SCHEMA) if want_blocks else None,
    )


def ensure_pages(
    sf_dir: str,
    n_rows: int | None = None,
    profile: str = "base",
    workers: int | None = None,
) -> str:
    """Generate (once) pages.parquet + golden.parquet (+ golden_blocks
    for small fixture scales) for ``sf_dir``. Chunked + multiprocess:
    streams row groups through ParquetWriter so multi-GB 'heavy' tables
    never materialize in one process. Returns the directory."""
    import shutil

    out_dir = pages_dir_for(sf_dir)
    marker = os.path.join(out_dir, "_SUCCESS")
    n = n_rows or ROWS_BY_SF.get(sf_name(sf_dir), 300)
    params = f"rows={n} profile={profile}\n"
    if os.path.exists(marker):
        # the marker RECORDS the generation parameters: a cached dir
        # built with different n_rows/profile must never be silently
        # returned (a heavy-profile bench would measure base pages).
        # Legacy "ok" markers predate parameter recording and are
        # accepted as-is (every legacy cache was written by this
        # repo's own callers with the dir-name-encoded parameters).
        with open(marker) as fh:
            recorded = fh.read()
        if recorded in (params, "ok\n"):
            return out_dir
        raise ValueError(
            f"{out_dir} was generated with '{recorded.strip()}' but "
            f"'{params.strip()}' was requested; delete the directory to "
            "regenerate (it may be shared with concurrent sessions)"
        )
    want_blocks = n <= 10_000

    chunk = 5000
    ranges = [
        (lo, min(lo + chunk, n), profile, want_blocks) for lo in range(0, n, chunk)
    ]
    if workers is None:
        workers = min(os.cpu_count() or 4, 16, len(ranges))

    # build in a process-private dir, commit by rename: two concurrent
    # callers (a test session + a bench) racing the marker check would
    # otherwise interleave writes into the SAME parquet files and then
    # mark the corruption as cached
    tmp_dir = f"{out_dir}.tmp-{os.getpid()}"
    os.makedirs(tmp_dir, exist_ok=True)
    pw = pq.ParquetWriter(os.path.join(tmp_dir, "pages.parquet"), PAGES_SCHEMA)
    gw = pq.ParquetWriter(os.path.join(tmp_dir, "golden.parquet"), GOLDEN_SCHEMA)
    bw = (
        pq.ParquetWriter(os.path.join(tmp_dir, "golden_blocks.parquet"), BLOCKS_SCHEMA)
        if want_blocks
        else None
    )
    try:
        if workers > 1 and len(ranges) > 1:
            import multiprocessing as mp

            # spawn, not fork: callers usually hold a live Spark JVM
            # (py4j callback threads), and fork() of a multithreaded
            # process can clone a held lock into the child — a classic
            # imap deadlock. Chunk generation is pure and picklable.
            with mp.get_context("spawn").Pool(workers) as pool:
                for pt, gt, bt in pool.imap(_gen_chunk, ranges):
                    pw.write_table(pt)
                    gw.write_table(gt)
                    if bw is not None and bt is not None:
                        bw.write_table(bt)
        else:
            for r in ranges:
                pt, gt, bt = _gen_chunk(r)
                pw.write_table(pt)
                gw.write_table(gt)
                if bw is not None and bt is not None:
                    bw.write_table(bt)
    finally:
        pw.close()
        gw.close()
        if bw is not None:
            bw.close()
    with open(os.path.join(tmp_dir, "_SUCCESS"), "w") as f:
        f.write(params)
    try:
        os.rename(tmp_dir, out_dir)
    except OSError:
        if os.path.exists(marker):
            # another process committed first — identical deterministic
            # content, so simply adopt theirs
            shutil.rmtree(tmp_dir)
        elif os.path.isdir(out_dir):
            # leftover of a CRASHED earlier build (dir without marker):
            # replace it with the complete one
            shutil.rmtree(out_dir)
            os.rename(tmp_dir, out_dir)
        else:
            raise
    return out_dir

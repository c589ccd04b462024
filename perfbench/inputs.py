"""Seeded workload inputs and their oracle goldens.

Inputs are built from ``sources.pages.gen_page`` at seed-derived indices
and cached under the benchmark's own data dir, keyed by workload, seed,
size and a hash of the generator code; goldens come from
``core.oracle.extract_page`` and are keyed additionally by a hash of
``paddleocr_spark/core/`` + ``config.py``. Neither cost is part of any
timed region. The shared ``.data/pages/sf*`` cache is never touched.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", ".data")

# input dirs kept in the cache, most recently used first: enough for
# ten seeds of every workload
KEEP_INPUTS = 30
# pages per workload input; see DESIGN.md for why each size
SIZES = {"batch_clean": 5000, "batch_sloppy": 640, "serve_closed": 2000}
# bodies of this many consecutive heavy pages make one sloppy page, and
# one page in this many omits the optional closing tags
SLOPPY_JOIN = 8
_OPTIONAL_CLOSE = ("</p>", "</td>", "</tr>")


def _files_hash(patterns: list[str]) -> str:
    h = hashlib.sha256()
    for pat in patterns:
        for p in sorted(glob.glob(os.path.join(ROOT, pat))):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:12]


def gen_hash() -> str:
    return _files_hash(["paddleocr_spark/sources/pages.py", "perfbench/inputs.py"])


def core_hash() -> str:
    return _files_hash(["paddleocr_spark/core/*.py", "paddleocr_spark/config.py"])


def _start_index(seed: int) -> int:
    return random.Random(seed).randrange(10**7)


def _body(html: str) -> str:
    return html.split("<body>", 1)[1].rsplit("</body>", 1)[0]


def _sloppy_page(start: int, j: int, omit: bool) -> dict:
    from paddleocr_spark.sources.pages import gen_page

    parts = [gen_page(start + SLOPPY_JOIN * j + k, "heavy") for k in range(SLOPPY_JOIN)]
    first = parts[0]
    html = (
        f'<!doctype html><html lang="{first["lang"]}"><head><title>doc {j}</title>'
        "</head><body>"
        + "\n".join(_body(p["html"].decode("utf-8")) for p in parts)
        + "</body></html>"
    )
    if omit:
        for tag in _OPTIONAL_CLOSE:
            html = html.replace(tag, "")
    return dict(
        url=first["url"].replace("/p/", "/d/"),
        warc_ts=first["warc_ts"],
        html=html.encode("utf-8"),
        text="",  # the extraction never reads it
        lang=first["lang"],
    )


def _gen_chunk(workload: str, seed: int, lo: int, hi: int) -> tuple[pa.Table, pa.Table]:
    """Pages ``lo..hi`` of the workload input and their goldens."""
    from paddleocr_spark.core.oracle import extract_page
    from paddleocr_spark.sources.pages import GOLDEN_SCHEMA, PAGES_SCHEMA, gen_page

    start = _start_index(seed)
    if workload == "batch_sloppy":
        n = SIZES[workload]
        omit = set(random.Random(f"sloppy-{seed}").sample(range(n), n // SLOPPY_JOIN))
        pages = [_sloppy_page(start, j, j in omit) for j in range(lo, hi)]
    else:
        pages = [gen_page(start + i, "heavy") for i in range(lo, hi)]
    golden = []
    for p in pages:
        r = extract_page(p["url"], p["html"], p["lang"])
        golden.append(dict(url=r.url, extracted_text=r.extracted_text, spans=r.spans,
                           n_blocks_detected=r.n_blocks_detected,
                           n_blocks_kept=r.n_blocks_kept))
    return (pa.Table.from_pylist(pages, schema=PAGES_SCHEMA),
            pa.Table.from_pylist(golden, schema=GOLDEN_SCHEMA))


def _digest(golden: pa.Table) -> str:
    """Digest of every golden column, in url order."""
    import pyarrow.compute as pc

    t = golden.sort_by("url")
    h = hashlib.sha256()
    for name in ("url", "extracted_text"):
        for v in t.column(name).to_pylist():
            h.update(v.encode("utf-8") + b"\0")
    spans = t.column("spans")
    flat = pc.list_flatten(spans)
    for arr in (t.column("n_blocks_detected"), t.column("n_blocks_kept"),
                pc.list_value_length(spans),
                *(pc.struct_field(flat, f) for f in ("block_id", "start", "end", "score"))):
        h.update(arr.to_numpy().tobytes())
    return h.hexdigest()[:16]


def ensure_inputs(workload: str, seed: int, workers: int) -> str:
    """Directory holding ``pages.parquet``, ``golden.parquet`` and the
    golden ``digest`` for the workload at ``seed``. Built once; only the
    ``KEEP_INPUTS`` most recently used dirs stay cached."""
    n = SIZES[workload]
    d = os.path.join(DATA, "inputs", f"{workload}-s{seed}-n{n}-{gen_hash()}-{core_hash()}")
    if not os.path.isdir(d):
        _build(workload, seed, n, workers, d)
    os.utime(d)
    cached = sorted(glob.glob(os.path.join(DATA, "inputs", "*")), key=os.path.getmtime)
    for old in cached[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def _build(workload: str, seed: int, n: int, workers: int, d: str) -> None:
    """Generate pages and goldens in ``workers`` child processes, one
    chunk each, all waited for on every path; commit ``d`` by rename.
    Plain child processes, not a multiprocessing pool, so no helper
    process (a pool's resource tracker) outlives the benchmark."""
    step = -(-n // workers)
    los = list(range(0, n, step))
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    procs: list[subprocess.Popen] = []
    try:
        for lo in los:
            procs.append(subprocess.Popen([
                sys.executable, os.path.abspath(__file__),
                workload, str(seed), str(lo), str(min(lo + step, n)), tmp]))
        for p in procs:
            p.wait()
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    try:
        if any(p.returncode for p in procs):
            raise RuntimeError(f"input generation failed for {workload} seed {seed}")
        chunks = [(pq.read_table(_chunk_path(tmp, "pages", lo)),
                   pq.read_table(_chunk_path(tmp, "golden", lo))) for lo in los]
        golden = pa.concat_tables(t[1] for t in chunks)
        pq.write_table(pa.concat_tables(t[0] for t in chunks), os.path.join(tmp, "pages.parquet"))
        pq.write_table(golden, os.path.join(tmp, "golden.parquet"))
        with open(os.path.join(tmp, "digest"), "w") as fh:
            fh.write(_digest(golden))
        for f in glob.glob(os.path.join(tmp, "chunk-*")):
            os.remove(f)
        try:
            os.rename(tmp, d)
        except OSError:  # another run committed the same deterministic content
            if not os.path.isdir(d):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _chunk_path(tmp: str, kind: str, lo: int) -> str:
    return os.path.join(tmp, f"chunk-{kind}-{lo:09d}.parquet")


def read_pages(input_dir: str) -> list[dict]:
    return pq.read_table(os.path.join(input_dir, "pages.parquet"),
                         columns=["url", "html", "lang"]).to_pylist()


class Golden:
    """Oracle results of one input; checks outputs and digests them."""

    def __init__(self, input_dir: str):
        self.table = pq.read_table(os.path.join(input_dir, "golden.parquet")).sort_by("url")
        with open(os.path.join(input_dir, "digest")) as fh:
            self.digest = fh.read()
        self._by_url: dict | None = None

    @property
    def by_url(self) -> dict[str, dict]:
        if self._by_url is None:
            self._by_url = {r.pop("url"): r for r in self.table.to_pylist()}
        return self._by_url

    def matches(self, r: dict) -> bool:
        """``r`` equals the golden of its url in every golden column."""
        want = self.by_url.get(r.get("url"))
        return want is not None and all(r.get(k) == v for k, v in want.items())

    def check_rows(self, rows: list[dict]) -> int:
        """Failed pages among ``rows``: a url that is unknown, repeated
        or missing, or a result that differs in any column."""
        seen: set[str] = set()
        failed = 0
        for r in rows:
            if r.get("url") in seen or not self.matches(r):
                failed += 1
            seen.add(r.get("url"))
        return failed + len(self.by_url.keys() - seen)

    def check_table(self, t: pa.Table) -> int:
        """Failed pages in an output table; compares whole columns and
        falls back to per-row checks only when they differ."""
        t = t.select(self.table.column_names).cast(self.table.schema).sort_by("url")
        if t.equals(self.table):
            return 0
        return self.check_rows(t.to_pylist())


def check_job_output(golden: Golden, out_dir: str) -> int:
    """Failed pages in a job's ``extracted/`` output."""
    import pyarrow.dataset as ds

    return golden.check_table(ds.dataset(
        os.path.join(out_dir, "extracted"), format="parquet", partitioning="hive"
    ).to_table(columns=golden.table.column_names))


def fresh_dir(name: str) -> str:
    d = os.path.join(DATA, "scratch", f"{name}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    return d


if __name__ == "__main__":
    # one chunk of ``_build``: <workload> <seed> <lo> <hi> <dir>; the
    # package root replaces this script's directory on the import path
    sys.path[0] = ROOT
    _wl, _seed, _lo, _hi, _dir = sys.argv[1:]
    _pages, _golden = _gen_chunk(_wl, int(_seed), int(_lo), int(_hi))
    pq.write_table(_pages, _chunk_path(_dir, "pages", int(_lo)))
    pq.write_table(_golden, _chunk_path(_dir, "golden", int(_lo)))

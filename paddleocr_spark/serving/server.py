"""HTTP serving endpoint — the ``deploy/hubserving`` analog.

Reference: deploy/hubserving/ocr_system/module.py:99-151 (``OCRSystem.
predict``: base64 images in, ``[{"text","confidence","text_region"}]``
out, exposed via PaddleHub's ``@serving`` decorator on port 8866),
its per-task siblings deploy/hubserving/ocr_det and ocr_rec, and
tools/test_hubserving.py (the reference HTTP client that POSTs
``{"images": [b64, ...]}``).

Spark-first reading: serving is the LOW-LATENCY SINGLE-DOCUMENT path of
the same engine.  The handler runs the identical pure-Python core
(``core/oracle.extract_page`` / ``detect_blocks_rows``) that the batch
Arrow stage vectorizes, so a document POSTed here returns
byte-identical ``extracted_text`` to the same document flowing through
the Spark job (asserted in tests/test_serving.py).  Bulk traffic
belongs on the batch / streaming planes; this server exists for
interactive calls and needs no Spark session — stdlib
``ThreadingHTTPServer`` only, one worker thread per connection (the
hubserving deployment is likewise a single-node sidecar, not part of
the distributed plan).

Endpoints (module-per-task, mirroring deploy/hubserving/*):

  POST /predict/extract_system
      body ``{"pages": [{"url": str, "html": <base64>, "lang": str}],
              "config": {<PipelineConfig overrides>}}``
      -> ``{"results": [{"url", "extracted_text", "spans",
                         "n_blocks_detected", "n_blocks_kept",
                         "elapse_ms"} | {"url", "error"}]}``
      (the full TextSystem analog; per-page failures are reported
      per-page and the batch keeps going, as module.py:125-127 appends
      ``[]`` for an unreadable image).

  POST /predict/extract_det
      same body -> per-block detection rows (tag, depth, start, end,
      text_len, link_text_len, score, kept, ...) — the ocr_det module
      analog, detect-only.

  POST /predict/kie_ser_re
      same body -> SER entity labels + RE key-value links per page —
      the deploy/hubserving/kie_ser_re module analog over core/kie.py.

  GET /health -> ``{"status": "ok"}``

Errors: 400 for a bad or negative ``Content-Length`` / malformed JSON /
unknown config keys or invalid config values / non-list ``pages``; 404
for unknown routes; per-page decode errors are entries in ``results``,
not request failures.
"""

from __future__ import annotations

import base64
import binascii
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.request import Request, urlopen

from ..config import DEFAULT, PipelineConfig, with_overrides
from ..core.kie import entity_label, link_key_values
from ..core.oracle import detect_blocks_rows, extract_page
from ..core.tokenizer import tokenize_page

# hubserving's default port (deploy/hubserving/readme_en.md: 8866).
DEFAULT_PORT = 8866

class BadRequest(ValueError):
    """400-class client error."""


def _parse_config(overrides: dict | None) -> PipelineConfig:
    if not overrides:
        return DEFAULT
    if not isinstance(overrides, dict):
        raise BadRequest("config must be an object")
    try:
        return with_overrides(overrides)
    except ValueError as e:
        raise BadRequest(str(e)) from e


def _decode_page(page: dict) -> tuple[str, bytes, str]:
    if not isinstance(page, dict):
        raise BadRequest("each page must be an object")
    url = page.get("url", "")
    if "html" not in page:
        raise BadRequest("page missing 'html'")
    try:
        html = base64.b64decode(page["html"], validate=True)
    except (binascii.Error, TypeError, ValueError) as e:
        raise BadRequest(f"bad base64 html: {e}") from e
    return url, html, page.get("lang", "en")


def _iter_decoded(body: dict):
    """Shared 'pages' validation + per-page decode for every route
    (previously copy-pasted three times): yields
    ``(error_row, None)`` for a malformed page entry — including a
    non-dict entry, which used to crash the error handler itself
    ((page or {}).get on a str) and turn a per-page failure into a
    whole-batch 500 — or ``(None, (url, html, lang))`` on success."""
    pages = body.get("pages")
    if not isinstance(pages, list):
        raise BadRequest("'pages' must be a list")
    for page in pages:
        # per-page failure -> per-page result row (module.py:125-127
        # appends [] for an unreadable image and keeps going)
        try:
            yield None, _decode_page(page)
        except BadRequest as e:
            url = page.get("url", "") if isinstance(page, dict) else ""
            yield dict(url=url, error=str(e)), None


def _predict_system(body: dict) -> dict:
    cfg = _parse_config(body.get("config"))
    results = []
    for err, decoded in _iter_decoded(body):
        if err is not None:
            results.append(err)
            continue
        url, html, lang = decoded
        t0 = time.monotonic()
        res = extract_page(url, html, lang, cfg)
        results.append(
            dict(
                url=res.url,
                extracted_text=res.extracted_text,
                spans=res.spans,
                n_blocks_detected=res.n_blocks_detected,
                n_blocks_kept=res.n_blocks_kept,
                elapse_ms=round((time.monotonic() - t0) * 1000.0, 3),
            )
        )
    return dict(results=results)


def _predict_det(body: dict) -> dict:
    cfg = _parse_config(body.get("config"))
    results = []
    for err, decoded in _iter_decoded(body):
        if err is not None:
            results.append(err)
            continue
        url, html, _lang = decoded
        results.append(dict(url=url, blocks=detect_blocks_rows(url, html, cfg)))
    return dict(results=results)


def _predict_kie(body: dict) -> dict:
    """kie_ser_re module analog: SER entity labels + RE key-value links
    per page (deploy/hubserving/kie_ser_re; core semantics in
    core/kie.py — heading-like keys govern following value blocks in
    reading order)."""
    cfg = _parse_config(body.get("config"))
    results = []
    for err, decoded in _iter_decoded(body):
        if err is not None:
            results.append(err)
            continue
        url, html, _lang = decoded
        blocks = tokenize_page(html, cfg)
        results.append(
            dict(
                url=url,
                entities=[
                    dict(block_id=b.block_id, tag=b.tag,
                         label=entity_label(b.tag, b.text))
                    for b in blocks
                ],
                links=[
                    dict(value_id=vid, key_id=kid)
                    for vid, kid in link_key_values(blocks)
                ],
            )
        )
    return dict(results=results)


_ROUTES = {
    "/predict/extract_system": _predict_system,
    "/predict/extract_det": _predict_det,
    "/predict/kie_ser_re": _predict_kie,
}


class _Handler(BaseHTTPRequestHandler):
    # quiet: don't spam stderr per request
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    def _reply(self, code: int, payload: dict) -> None:
        data = json.dumps(payload).encode("utf-8")
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):  # noqa: N802
        if self.path == "/health":
            self._reply(200, dict(status="ok"))
        else:
            self._reply(404, dict(error=f"unknown route {self.path}"))

    def do_POST(self):  # noqa: N802
        fn = _ROUTES.get(self.path)
        if fn is None:
            self._reply(404, dict(error=f"unknown route {self.path}"))
            return
        # header parsing gets its OWN narrow catch: a broad
        # `except ValueError` around the route call would also swallow
        # engine-side ValueErrors and mislabel server bugs as 400s
        try:
            n = int(self.headers.get("Content-Length", 0))
            if n < 0:  # rfile.read(-1) would block until the client hangs up
                raise ValueError(f"negative length {n}")
        except ValueError as e:
            self._reply(400, dict(error=f"bad Content-Length: {e}"))
            return
        try:
            body = json.loads(self.rfile.read(n).decode("utf-8"))
            if not isinstance(body, dict):
                raise BadRequest("body must be a JSON object")
            self._reply(200, fn(body))
        except BadRequest as e:
            self._reply(400, dict(error=str(e)))
        except json.JSONDecodeError as e:
            self._reply(400, dict(error=f"bad JSON: {e}"))
        except UnicodeDecodeError as e:
            self._reply(400, dict(error=f"body is not UTF-8: {e}"))
        except Exception as e:  # route-handler failure: JSON 500, not a
            # dropped connection / stack trace on the socket
            self._reply(500, dict(error=f"{type(e).__name__}: {e}"))


def start_server(host: str = "127.0.0.1", port: int = DEFAULT_PORT):
    """Start the server on a daemon thread; returns the server object.

    ``port=0`` binds an ephemeral port (tests); the bound address is
    ``server.server_address``.  Call ``server.shutdown()`` to stop.
    """
    server = ThreadingHTTPServer((host, port), _Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server


def predict(endpoint: str, pages: list[dict], config: dict | None = None,
            timeout: float = 30.0) -> dict:
    """HTTP client helper — the tools/test_hubserving.py analog.

    ``pages`` rows carry raw ``html`` bytes (or str); they are base64
    encoded on the wire exactly as the reference client b64-encodes
    images (tools/test_hubserving.py cv2_to_base64).
    """
    wire = []
    for p in pages:
        html = p["html"]
        if isinstance(html, str):
            html = html.encode("utf-8")
        wire.append(
            dict(
                url=p.get("url", ""),
                html=base64.b64encode(html).decode("ascii"),
                lang=p.get("lang", "en"),
            )
        )
    body: dict = dict(pages=wire)
    if config:
        body["config"] = config
    req = Request(
        endpoint,
        data=json.dumps(body).encode("utf-8"),
        headers={"Content-Type": "application/json"},
    )
    with urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))


def main(argv: list[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description="extraction serving endpoint")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=DEFAULT_PORT)
    args = ap.parse_args(argv)
    server = ThreadingHTTPServer((args.host, args.port), _Handler)
    print(f"serving on http://{args.host}:{server.server_address[1]}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()


if __name__ == "__main__":
    main()

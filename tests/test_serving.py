"""HTTP serving endpoint (deploy/hubserving analog) — parity + protocol.

The serving handler runs the SAME pure-Python core as the batch Arrow
stage (core/oracle), so the parity assertions here are transitively
parity with the Spark path: oracle<->Spark byte-identity is covered by
the golden e2e tests; this file pins serving<->oracle byte-identity
plus the HTTP protocol surface (reference client shape:
tools/test_hubserving.py; module behavior: deploy/hubserving/
ocr_system/module.py predict()).
"""

from __future__ import annotations

import dataclasses
import json
import socket
import urllib.error
import urllib.parse
import urllib.request

import pytest

from paddleocr_spark.config import DEFAULT
from paddleocr_spark.core.oracle import detect_blocks_rows, extract_page
from paddleocr_spark.serving import predict, start_server
from paddleocr_spark.sources.pages import gen_page


@pytest.fixture(scope="module")
def endpoint():
    server = start_server(port=0)
    host, port = server.server_address[:2]
    yield f"http://{host}:{port}"
    server.shutdown()
    server.server_close()


def _pages(n=8, profile="base"):
    return [gen_page(i, profile) for i in range(n)]


def test_extract_system_matches_oracle_byte_identical(endpoint):
    pages = _pages(8) + [gen_page(i, "heavy") for i in range(3)]
    out = predict(endpoint + "/predict/extract_system", pages)
    assert len(out["results"]) == len(pages)
    for page, got in zip(pages, out["results"]):
        want = extract_page(page["url"], page["html"], page["lang"])
        assert got["url"] == want.url
        assert got["extracted_text"] == want.extracted_text  # byte-identical
        assert got["spans"] == want.spans
        assert got["n_blocks_detected"] == want.n_blocks_detected
        assert got["n_blocks_kept"] == want.n_blocks_kept
        assert got["elapse_ms"] >= 0


def test_extract_det_matches_oracle_rows(endpoint):
    pages = _pages(4)
    out = predict(endpoint + "/predict/extract_det", pages)
    for page, got in zip(pages, out["results"]):
        assert got["blocks"] == detect_blocks_rows(page["url"], page["html"])


def test_kie_ser_re_matches_core(endpoint):
    from paddleocr_spark.core.kie import entity_label, link_key_values
    from paddleocr_spark.core.tokenizer import tokenize_page

    pages = _pages(6, "heavy")
    out = predict(endpoint + "/predict/kie_ser_re", pages)
    saw_link = False
    for page, got in zip(pages, out["results"]):
        blocks = tokenize_page(page["html"])
        assert got["entities"] == [
            dict(block_id=b.block_id, tag=b.tag, label=entity_label(b.tag, b.text))
            for b in blocks
        ]
        assert got["links"] == [
            dict(value_id=v, key_id=k) for v, k in link_key_values(blocks)
        ]
        saw_link = saw_link or any(l["key_id"] is not None for l in got["links"])
    assert saw_link  # the fixture pages really contain governed values


def test_config_overrides_applied(endpoint):
    pages = _pages(4)
    cfg = dict(drop_score=0.9, prefilter_bin=True)
    out = predict(endpoint + "/predict/extract_system", pages, config=cfg)
    oracle_cfg = dataclasses.replace(DEFAULT, **cfg)
    for page, got in zip(pages, out["results"]):
        want = extract_page(page["url"], page["html"], page["lang"], oracle_cfg)
        assert got["extracted_text"] == want.extracted_text
        assert got["spans"] == want.spans


def test_per_page_errors_do_not_fail_the_batch(endpoint):
    good = gen_page(0)
    out = predict(
        endpoint + "/predict/extract_system",
        [good, dict(url="u:bad", html=b"")],  # empty html is fine...
    )
    assert "error" not in out["results"][0]
    # ...but a missing/bad-b64 html is a per-page error row, batch ok
    # (module.py:125-127: unreadable image -> [] appended, no raise)
    body = json.dumps(
        dict(pages=[dict(url="u:nohtml"), dict(url="u:badb64", html="@@not-b64@@")])
    ).encode()
    req = urllib.request.Request(
        endpoint + "/predict/extract_system",
        data=body,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=10) as resp:
        out = json.loads(resp.read())
    assert [r["url"] for r in out["results"]] == ["u:nohtml", "u:badb64"]
    assert all("error" in r for r in out["results"])


def _post_raw(endpoint, path, raw: bytes) -> tuple[int, dict]:
    req = urllib.request.Request(
        endpoint + path, data=raw, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_protocol_errors(endpoint):
    # malformed JSON -> 400
    code, out = _post_raw(endpoint, "/predict/extract_system", b"{nope")
    assert code == 400 and "bad JSON" in out["error"]
    # unknown config key -> 400
    code, out = _post_raw(
        endpoint,
        "/predict/extract_system",
        json.dumps(dict(pages=[], config=dict(bogus_knob=1))).encode(),
    )
    assert code == 400 and "bogus_knob" in out["error"]
    # mistyped score_mode -> 400, not silently fast-mode text
    code, out = _post_raw(
        endpoint,
        "/predict/extract_system",
        json.dumps(dict(pages=[], config=dict(score_mode="Slow"))).encode(),
    )
    assert code == 400 and "score_mode" in out["error"]
    # pages not a list -> 400
    code, out = _post_raw(
        endpoint, "/predict/extract_system", json.dumps(dict(pages="x")).encode()
    )
    assert code == 400
    # unknown route -> 404
    code, out = _post_raw(endpoint, "/predict/nope", b"{}")
    assert code == 404
    # health
    with urllib.request.urlopen(endpoint + "/health", timeout=10) as resp:
        assert json.loads(resp.read()) == dict(status="ok")


def test_protocol_errors_hardened(endpoint):
    """ADVICE r3: non-UTF-8 bodies and unexpected handler failures must
    come back as JSON 400/500 replies, never a dropped connection."""
    # non-UTF-8 body -> 400 JSON
    code, out = _post_raw(
        endpoint, "/predict/extract_system", b"\xff\xfe\x00bad"
    )
    assert code == 400 and "UTF-8" in out["error"]
    # negative Content-Length -> 400 JSON; rfile.read(-1) would block the
    # handler thread until the client hangs up. Raw socket: urllib
    # cannot send a negative length, and the timeout turns a hang into
    # a failure.
    host, port = urllib.parse.urlsplit(endpoint).netloc.split(":")
    with socket.create_connection((host, int(port)), timeout=10) as sock:
        sock.sendall(
            b"POST /predict/extract_system HTTP/1.1\r\nHost: x\r\n"
            b"Content-Length: -1\r\nConnection: close\r\n\r\n"
        )
        raw = b""
        while chunk := sock.recv(65536):
            raw += chunk
    head, _, payload = raw.partition(b"\r\n\r\n")
    assert b" 400 " in head.split(b"\r\n")[0], raw
    assert "Content-Length" in json.loads(payload)["error"]
    # unexpected handler exception -> 500 JSON (patch a route to blow up)
    from paddleocr_spark.serving import server as srv

    def boom(body):
        raise KeyError("internal-kaboom")

    orig = srv._ROUTES["/predict/extract_det"]
    srv._ROUTES["/predict/extract_det"] = boom
    try:
        code, out = _post_raw(
            endpoint, "/predict/extract_det",
            json.dumps(dict(pages=[])).encode(),
        )
        assert code == 500 and "internal-kaboom" in out["error"]
    finally:
        srv._ROUTES["/predict/extract_det"] = orig

"""Serve phase: the serving server in its own process, driven by a
closed loop of client connections from this process.

Each client thread sends one page per request and waits for the reply
before sending the next, so a slower server receives less load. Every
response is checked against the oracle golden for its page.
"""

from __future__ import annotations

import base64
import http.client
import itertools
import json
import os
import statistics
import subprocess
import sys
import threading
import time

from perfbench.inputs import ROOT, Golden

WARMUP_REQUESTS = 200
ROUTE = "/predict/extract_system"


class Server:
    """``python -m paddleocr_spark.serving --port 0``; the bound port is
    read from its startup line. Always stopped on exit."""

    def __init__(self):
        env = dict(os.environ, PYTHONUNBUFFERED="1")
        env["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "paddleocr_spark.serving", "--port", "0"],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        try:
            line = self.proc.stdout.readline()
            if "serving on http://" not in line:
                raise RuntimeError(f"server did not start: {line!r}")
            self.port = int(line.strip().rsplit(":", 1)[1])
            self._wait_health()
        except BaseException:
            self.stop()
            raise

    def _wait_health(self, timeout_s: float = 60.0) -> None:
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=5)
                c.request("GET", "/health")
                if c.getresponse().status == 200:
                    return
            except OSError:
                pass
            if time.monotonic() > deadline or self.proc.poll() is not None:
                raise RuntimeError("server never answered /health")
            time.sleep(0.01)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


class _CountingConnection(http.client.HTTPConnection):
    """Counts TCP connects: the client reuses one connection object and
    reconnects only when the server closed the previous one."""

    connects = 0

    def connect(self):
        self.connects += 1
        super().connect()


def request_bodies(pages: list[dict]) -> list[bytes]:
    """One ``/predict/extract_system`` body per page, built before timing."""
    return [json.dumps(dict(pages=[dict(
        url=p["url"], html=base64.b64encode(p["html"]).decode("ascii"), lang=p["lang"])]
    )).encode("utf-8") for p in pages]


def _check(golden: Golden, status: int, data: bytes) -> tuple[bool, float]:
    """(response matches the golden, the server's own ``elapse_ms``)."""
    if status != 200:
        return False, 0.0
    results = json.loads(data).get("results")
    if not isinstance(results, list) or len(results) != 1 or "error" in results[0]:
        return False, 0.0
    return golden.matches(results[0]), float(results[0].get("elapse_ms", 0.0))


def _post(conn, body: bytes) -> tuple[int, bytes]:
    try:
        conn.request("POST", ROUTE, body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException):
        conn.close()
        return 0, b""


def closed_loop(port, bodies, golden: Golden, clients: int, seconds: float, tracer) -> dict:
    """``clients`` connections, each sending its next request only after
    the previous reply, for ``seconds``. Replies are kept and checked
    after the window, so checking costs the client no time inside it.
    Returns per-request ``(round_trip_s, ok, server_ms)`` records."""
    counter = itertools.count()
    replies: list[tuple] = []  # (round_trip_s, status, body)
    conns: list[_CountingConnection] = []
    errors: list[BaseException] = []
    deadline = time.perf_counter() + seconds

    def client() -> None:
        conn = _CountingConnection("127.0.0.1", port, timeout=60)
        conns.append(conn)
        try:
            while time.perf_counter() < deadline:
                i = next(counter)
                with tracer.span("serving.request", f"req-{i}") as sp:
                    status, data = _post(conn, bodies[i % len(bodies)])
                replies.append((sp.dur, status, data))
        except BaseException as e:  # re-raised by the caller after join
            errors.append(e)
        finally:
            conn.close()

    cpu0 = time.process_time()
    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    client_cpu_s = time.process_time() - cpu0
    if errors:
        raise errors[0]
    records = [(rtt, *_check(golden, status, data)) for rtt, status, data in replies]
    return dict(records=records, wall_s=wall, client_cpu_s=client_cpu_s,
                connects=sum(c.connects for c in conns))


def warmup(port, bodies, n, tracer) -> list[tuple]:
    """``n`` sequential requests from one connection; returns the raw
    ``(round_trip_s, status, body)`` replies."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    replies = []
    try:
        for i in range(n):
            with tracer.span("serving.warmup_request", f"warm-{i}") as sp:
                status, data = _post(conn, bodies[i % len(bodies)])
            replies.append((sp.dur, status, data))
    finally:
        conn.close()
    return replies


def setup(bodies, golden, tracer, n_setups: int):
    """Start the server ``n_setups`` times (through the first /health
    200 plus a fixed single-client warm-up); the last one is kept.
    Returns (server, median set-up seconds, checked warm-up records)."""
    times, replies = [], []
    server = None
    try:
        for k in range(n_setups):
            if server is not None:
                server.stop()
            with tracer.span("bench.setup", f"setup-{k}") as sp:
                server = Server()
                replies += warmup(server.port, bodies, WARMUP_REQUESTS, tracer)
            times.append(sp.dur)
    except BaseException:
        if server is not None:
            server.stop()
        raise
    records = [(rtt, *_check(golden, status, data)) for rtt, status, data in replies]
    return server, statistics.median(times), records

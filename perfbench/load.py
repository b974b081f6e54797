"""HTTP client side of the benchmark: a closed-loop reader, an open-loop
request generator with a fixed number of worker threads, and the /bulk
writer."""

from __future__ import annotations

import http.client
import json
import threading
import time
from urllib.parse import urlsplit

from perfbench.trace import REQ_HEADER


class Client:
    def __init__(self, url: str):
        u = urlsplit(url)
        self.host, self.port = u.hostname, u.port

    def request(self, method: str, path: str, body: bytes | None = None,
                headers: dict | None = None) -> tuple[int, dict, bytes]:
        conn = http.client.HTTPConnection(self.host, self.port, timeout=60)
        try:
            conn.request(method, path, body=body, headers=headers or {})
            r = conn.getresponse()
            data = r.read()
            return r.status, dict(r.getheaders()), data
        finally:
            conn.close()

    def json(self, method: str, path: str, payload=None) -> dict:
        body = None if payload is None else json.dumps(payload).encode()
        status, _, data = self.request(method, path, body)
        if status != 200:
            raise RuntimeError(f"{method} {path} -> {status}: {data[:200]!r}")
        return json.loads(data)


def _get(client: Client, path: str, req_id: str, rec: dict) -> dict:
    """Send one GET /search and fill ``rec`` with its outcome."""
    try:
        status, hdr, body = client.request("GET", path, headers={REQ_HEADER: req_id})
        rec["end"] = time.perf_counter()
        rec["status"] = status
        rec["cache"] = hdr.get("X-Cache")
        if status == 200:
            resp = json.loads(body)
            rec["answer_ms"] = resp.get("answer_time_ms")
            rec["rung"] = resp.get("rung")
            rec["profile"] = resp.get("profile")
    except (OSError, http.client.HTTPException, ValueError) as e:
        rec["end"] = time.perf_counter()
        rec["status"] = -1
        rec["error"] = str(e)
    rec["lat_ms"] = (rec["end"] - rec["sched"]) * 1e3
    return rec


def closed_loop(client: Client, paths: list[str], req_prefix: str,
                stop: threading.Event | None = None) -> list[dict]:
    """One client sending ``paths`` in order, each request as soon as the
    previous answer arrived (until ``stop`` is set, if given). Latency is
    send to last response byte."""
    out = []
    for i, path in enumerate(paths):
        now = time.perf_counter()
        if stop is not None and stop.is_set():
            break
        out.append(_get(client, path, f"{req_prefix}{i}",
                        {"i": i, "sched": now, "start": now, "late_ms": 0.0}))
    return out


def open_loop(client: Client, paths: list[str], rate: float, threads: int,
              t0: float, req_prefix: str) -> list[dict]:
    """Send ``paths[i]`` at ``t0 + i / rate`` from ``threads`` workers.
    Latency runs from the scheduled send time to the last response byte, so
    a stall also charges the requests queued behind it. ``late_ms`` is the
    generator's own lateness: how long after a request was both due and
    picked up by an idle worker it actually went out."""
    out: list[dict | None] = [None] * len(paths)
    nxt = [0]
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(paths):
                return
            sched = t0 + i / rate
            picked = time.perf_counter()
            if picked < sched:
                time.sleep(sched - picked)
            start = time.perf_counter()
            out[i] = _get(client, paths[i], f"{req_prefix}{i}", {
                "i": i, "sched": sched, "start": start,
                "late_ms": (start - max(sched, picked)) * 1e3})

    ws = [threading.Thread(target=worker, daemon=True) for _ in range(threads)]
    for w in ws:
        w.start()
    for w in ws:
        w.join()
    return [r for r in out if r is not None]


def run_bulks(client: Client, bodies: list[bytes], on_ack) -> list[dict]:
    """POST the /bulk bodies back to back from one writer. ``on_ack(i,
    resp)`` runs the read-your-writes probe before the next batch goes out."""
    out = []
    for i, body in enumerate(bodies):
        rec = {"i": i, "start": time.perf_counter()}
        try:
            status, _, data = client.request(
                "POST", "/bulk", body, headers={REQ_HEADER: f"b{i}"})
            rec["end"] = time.perf_counter()
            rec["status"] = status
            if status == 200:
                rec["resp"] = json.loads(data)
                rec["ryw_ok"] = on_ack(i, rec["resp"])
        except (OSError, http.client.HTTPException, ValueError) as e:
            rec["end"] = time.perf_counter()
            rec["status"] = -1
            rec["error"] = str(e)
        out.append(rec)
    return out

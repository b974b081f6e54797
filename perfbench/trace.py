"""In-memory span tracer for the traced pass.

Wrappers are installed from the benchmark's own host process around the
public calls of each layer; nothing in the program changes. A span is
``[name, start, end, parent, request_id, extra]``; ``parent`` is the index
of the enclosing span on the same thread. The request id travels out of
band in the ``X-Bench-Req`` header (never in the query string: the server's
request cache keys on the raw query string). Spans stay in memory and are
written out when the host is told to dump them.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import threading
import time

REQ_HEADER = "X-Bench-Req"

# (module path, attribute path, span name). Attribute paths with a dot wrap
# a method on a class, so every instance picks the wrapper up.
SERVING_TARGETS = [
    ("gazetteer_search_spark.search.engine", "analyze_query", "analyzer"),
    ("gazetteer_search_spark.search.engine", "SearchEngine.search_response", "engine"),
    ("gazetteer_search_spark.search.engine", "SearchEngine.expand_prefix", "engine.expand"),
    ("gazetteer_search_spark.search.engine", "SearchEngine.expand_fuzzy", "engine.expand"),
    ("gazetteer_search_spark.search.engine", "SearchEngine.expand_regexp", "engine.expand"),
    ("gazetteer_search_spark.search.engine", "SearchEngine.snippets_for", "snippets"),
    ("gazetteer_search_spark.search.fastpath", "LocalExecutor.search_rung", "fastpath"),
    ("gazetteer_search_spark.index.segments", "MultiExecutor.search_rung", "fastpath"),
    ("gazetteer_search_spark.search.fastpath", "LocalExecutor._read_blocks", "fastpath.posting_read"),
    ("gazetteer_search_spark.search.fastpath", "LocalExecutor._payload_fetch", "fastpath.posting_read"),
    ("gazetteer_search_spark.index.codec", "ids_decode", "codec.decode"),
    ("gazetteer_search_spark.index.codec", "tfs_decode", "codec.decode"),
    ("gazetteer_search_spark.index.codec", "f64_decode", "codec.decode"),
    ("gazetteer_search_spark.index.codec", "ids_encode", "codec.encode"),
    ("gazetteer_search_spark.index.codec", "tfs_encode", "codec.encode"),
    ("gazetteer_search_spark.index.codec", "f64_encode", "codec.encode"),
    ("gazetteer_search_spark.index.localbuild", "build_segment_index_local", "localbuild"),
    ("gazetteer_search_spark.index.segments", "add_segment", "segments.add_segment"),
    ("gazetteer_search_spark.index.segments", "open_multi_search", "segments.reopen"),
]


class Tracer:
    def __init__(self) -> None:
        self.on = True
        self.spans: list[list] = []
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_request(self, req_id: str | None) -> None:
        self._tls.req = req_id

    def begin(self, name: str) -> int | None:
        if not self.on:
            return None
        st = self._stack()
        rec = [name, time.perf_counter(), None, st[-1] if st else None,
               getattr(self._tls, "req", None), None]
        with self._lock:
            self.spans.append(rec)
            i = len(self.spans) - 1
        st.append(i)
        return i

    def end(self, i: int | None, extra=None) -> None:
        if i is None:
            return
        st = self._stack()
        if st and st[-1] == i:
            st.pop()
        rec = self.spans[i]
        rec[2] = time.perf_counter()
        if extra is not None:
            rec[5] = extra

    def wrap(self, fn, name: str, extra_of=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            i = self.begin(name)
            try:
                out = fn(*a, **kw)
            except BaseException:
                self.end(i)
                raise
            self.end(i, extra_of(a, kw, out) if (extra_of and i is not None) else None)
            return out

        return wrapper

    def finished(self) -> list[list]:
        with self._lock:
            return [s for s in self.spans if s[2] is not None]


def _extra(name: str):
    """Per-span counts recorded at the boundary: postings decoded, terms
    produced by an expansion."""
    if name == "codec.decode":
        return lambda a, kw, out: {"n": int(a[1]) if len(a) > 1 else int(kw.get("n", 0))}
    if name == "engine.expand":
        return lambda a, kw, out: {"n": len(out)}
    return None


def install_serving(tracer: Tracer) -> None:
    """Wrap each serving/ingest layer's public calls, and the HTTP request
    parser, which reads the out-of-band request id."""
    import importlib
    from http.server import BaseHTTPRequestHandler

    for mod_name, attr, name in SERVING_TARGETS:
        mod = importlib.import_module(mod_name)
        owner, _, leaf = attr.rpartition(".")
        target = getattr(mod, owner) if owner else mod
        setattr(target, leaf, tracer.wrap(getattr(target, leaf), name, _extra(name)))

    orig_parse = BaseHTTPRequestHandler.parse_request

    def parse_request(self):
        # ThreadingHTTPServer runs each connection on a fresh thread, so the
        # id set here tags exactly this request's spans
        ok = orig_parse(self)
        if ok:
            tracer.set_request(self.headers.get(REQ_HEADER))
        return ok

    BaseHTTPRequestHandler.parse_request = parse_request


def self_times(spans: list[list], keep=None) -> dict[str, dict]:
    """Per span name, over the spans ``keep`` accepts: calls, total ms, self
    ms (duration minus the time covered by direct child spans), and the
    summed boundary count ``n``."""
    child = [0.0] * len(spans)
    for s in spans:
        p = s[3]
        if p is not None and p < len(spans):
            child[p] += s[2] - s[1]
    out: dict[str, dict] = {}
    for i, s in enumerate(spans):
        if keep is not None and not keep(s):
            continue
        d = out.setdefault(s[0], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "n": 0})
        dur = s[2] - s[1]
        d["calls"] += 1
        d["total_ms"] += dur * 1e3
        d["self_ms"] += max(0.0, dur - child[i]) * 1e3
        if s[5] and "n" in s[5]:
            d["n"] += s[5]["n"]
    return out


# ---------------------------------------------------------------------------
# Spark event log (traced pass only)
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_log_lines(log_dir: str):
    """Lines of every event log under ``log_dir``: plain files, or the
    rolling ``eventlog_v2_*/events_<n>_*`` parts in order."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    part = re.compile(r"events_(\d+)_")
    files.sort(key=lambda p: (os.path.dirname(p),
                              int(m.group(1)) if (m := part.search(os.path.basename(p))) else 0))
    for p in files:
        with open(p) as f:
            yield from f


def spark_groups(lines) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, shuffle/spill bytes, executor
    run/CPU/GC time, Python-UDF boundary bytes and the task-time skew of
    the heaviest stage, from Spark event log lines."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a torn last line of a log still being written
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            d = groups.setdefault(g, _empty_group())
            d["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = g
        elif kind == "SparkListenerTaskEnd":
            sid = int(ev.get("Stage ID", -1))
            g = stage_group.get(sid)
            if g is None:
                continue
            d = groups[g]
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            d["tasks"] += 1
            d["stages_seen"].add(sid)
            run_ms = float(tm.get("Executor Run Time", 0))
            d["run_s"] += run_ms / 1e3
            d["cpu_s"] += float(tm.get("Executor CPU Time", 0)) / 1e9
            d["gc_s"] += float(tm.get("JVM GC Time", 0)) / 1e3
            d["spill_b"] += float(tm.get("Memory Bytes Spilled", 0)) + float(
                tm.get("Disk Bytes Spilled", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            d["sw_b"] += float(sw.get("Shuffle Bytes Written", 0))
            d["sr_b"] += float(sr.get("Remote Bytes Read", 0)) + float(
                sr.get("Local Bytes Read", 0))
            for acc in info.get("Accumulables", []):
                nm = acc.get("Name")
                if nm == PY_SENT:
                    d["py_sent_b"] += float(acc.get("Update", 0) or 0)
                elif nm == PY_RECV:
                    d["py_recv_b"] += float(acc.get("Update", 0) or 0)
            dur = float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0))
            stage_tasks.setdefault(sid, []).append(max(dur, run_ms))
    for g, d in groups.items():
        sids = d.pop("stages_seen")
        d["stages"] = len(sids)
        heavy = max(sids, key=lambda s: sum(stage_tasks[s]), default=None)
        if heavy is not None:
            ts = sorted(stage_tasks[heavy])
            med = ts[len(ts) // 2] if len(ts) % 2 else (ts[len(ts) // 2 - 1] + ts[len(ts) // 2]) / 2
            d["task_skew"] = ts[-1] / med if med > 0 else 1.0
    return groups


def _empty_group() -> dict:
    return {"jobs": 0, "tasks": 0, "stages_seen": set(), "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "spill_b": 0.0, "sw_b": 0.0,
            "sr_b": 0.0, "py_sent_b": 0.0, "py_recv_b": 0.0, "task_skew": 1.0}

"""Per-layer metrics of the traced pass (``--trace 1``).

Sources: spans recorded by the host's wrappers (perfbench.trace), fields the
server already returns (``answer_time_ms``, ``rung``, ``profile``,
``X-Cache``), client-side timings, and the Spark event log of the run.
Per-query figures divide by the measured reads of the window (those after
the /bulk batches).
"""

from __future__ import annotations

import json
import os
import signal
import time

from perfbench import stats as st
from perfbench import trace

SPARK_GROUPS = ("builder", "dedup", "graph")
SPARK_FIELDS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("shuffle_write_mb", "MiB"), ("shuffle_read_mb", "MiB"), ("spill_mb", "MiB"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("cpu_util", "ratio"), ("task_skew", "ratio"),
)

METRICS = [
    ("server.overhead_ms.p50", "ms"),
    ("server.req_cache_hit_ratio", "ratio"),
    ("server.bulk_ms.p50", "ms"),
    ("server.stalled_search_share", "ratio"),
    ("server.stalled_search_ms.max", "ms"),
    ("server.max_qps", "req/s"),
    ("loadgen.late_ms.p99", "ms"),
    ("analyzer.analyze_ms.self", "ms"),
    ("analyzer.calls", "count"),
    ("engine.answer_ms.p50", "ms"),
    ("engine.answer_ms.p99", "ms"),
    ("engine.rung_mean", "rung"),
    ("engine.self_ms", "ms"),
    ("engine.expand_ms.self", "ms"),
    ("engine.expanded_terms_per_query", "count"),
    ("fastpath.search_rung_ms.self", "ms"),
    ("fastpath.blocks_decoded_per_query", "count"),
    ("fastpath.blocks_skipped_per_query", "count"),
    ("fastpath.skip_ratio", "ratio"),
    ("fastpath.posting_reads_per_query", "count"),
    ("fastpath.posting_read_ms", "ms"),
    ("snippets.ms.self", "ms"),
    ("codec.decode_calls", "count"),
    ("codec.decoded_postings", "count"),
    ("codec.decode_ms.self", "ms"),
    ("codec.encode_ms.self", "ms"),
    ("localbuild.build_ms.p50", "ms"),
    ("segments.add_segment_ms.p50", "ms"),
    ("segments.reopen_ms.p50", "ms"),
    ("segments.generations", "count"),
    ("segments.spark_jobs_per_bulk", "count"),
    *[(f"{g}.{f}", u) for g in SPARK_GROUPS for f, u in SPARK_FIELDS],
    ("builder.python_bytes_sent_mb", "MiB"),
    ("builder.python_bytes_received_mb", "MiB"),
    ("builder.output_mb", "MiB"),
    ("dedup.docs_per_s", "docs/s"),
    ("dedup.pairs", "count"),
    ("dedup.injected_recall", "ratio"),
    ("graph.clusters", "count"),
    ("trace.overhead_ratio", "ratio"),
]
UNITS = dict(METRICS)

MB = 1024.0 * 1024.0


def _p50(xs) -> float:
    return st.median(xs) if xs else 0.0


def overhead_ratio(host, client, queries: dict, start: int) -> tuple[float, int]:
    """Alternate traced (T) and untraced (U) closed-loop read phases of the
    same stream, T U T U, starting with recording on; returns median T
    latency / median U latency and the next stream position. Leaves
    recording off."""
    from perfbench import load
    from perfbench.run import READ_RATE, read_paths

    lat: dict[bool, list] = {True: [], False: []}
    n = int(1.5 * READ_RATE)
    for k in range(4):
        if k:
            host.signal(signal.SIGUSR2)  # toggle recording
            time.sleep(0.05)
        rs = load.closed_loop(client, read_paths(queries, n, start, 1), "tu"[k % 2])
        start += n
        lat[k % 2 == 0] += [r["lat_ms"] for r in rs if r["status"] == 200]
    return _p50(lat[True]) / _p50(lat[False]), start


def max_qps(client, queries: dict, start: int) -> tuple[float, list]:
    """Walk the fixed ladder 0.75 * rate * 1.1**k upwards in 2 s steps of the
    read stream; the result is the highest step whose p90 stays under the
    limit with no backlog left at its end."""
    from perfbench import load
    from perfbench.run import LADDER_LIMIT_MS, READ_RATE, cpus, read_paths

    results, late = [], []
    for rate in st.ladder(0.75 * READ_RATE, 1.1, 16):
        n = int(2.0 * rate)
        paths = read_paths(queries, n, start, 1)
        start += n
        t0 = time.perf_counter()
        rs = load.open_loop(client, paths, rate, cpus(), t0, "q")
        ok_rs = [r for r in rs if r["status"] == 200]
        late += [r["late_ms"] for r in rs]
        backlog = (max(r["end"] for r in rs) - (t0 + (n - 1) / rate)) * 1e3
        ok = st.step_ok(n, len(ok_rs), [r["lat_ms"] for r in ok_rs],
                        LADDER_LIMIT_MS, backlog)
        results.append((rate, ok))
        if not ok:
            break
    return st.max_passing_rate(results), late


def _dump(host, work: str) -> dict:
    """Ask the host for its spans (SIGUSR1) and read them back."""
    path = os.path.join(work, "spans.json")
    host.signal(signal.SIGUSR1)
    for _ in range(600):
        if os.path.exists(path):
            break
        time.sleep(0.05)
    with open(path) as f:
        return json.load(f)


def per_layer(host, client, cfg: dict, inputs: dict, win: dict,
              built: dict, batch: dict | None, recall: float | None,
              work: str) -> dict:
    from perfbench.run import cpus

    queries = inputs["queries"]
    ratio, nxt = overhead_ratio(host, client, queries, win["next_read"])
    qps, late = max_qps(client, queries, nxt)
    dump = _dump(host, work)
    spans = dump["spans"]

    m: dict[str, float] = {k: 0.0 for k, _ in METRICS}
    reads = [r for r in win["reads"] if r["status"] == 200]
    misses = [r for r in reads if r.get("cache") == "MISS"]
    n_q = max(1, len(reads))
    bulks = [b for b in win["bulks"] if b["status"] == 200]

    # server + load generator (client side and response fields)
    m["server.overhead_ms.p50"] = _p50([(r["end"] - r["start"]) * 1e3 - r["answer_ms"]
                                        for r in misses])
    m["server.req_cache_hit_ratio"] = sum(r.get("cache") == "HIT" for r in reads) / n_q
    m["server.bulk_ms.p50"] = _p50([(b["end"] - b["start"]) * 1e3 for b in bulks])
    every = win["reads"] + win["stalled"]
    spans_b = [(b["start"], b["end"]) for b in bulks]
    stalled = [r for r in every if any(s < r["end"] and r["start"] < e for s, e in spans_b)]
    m["server.stalled_search_share"] = len(stalled) / max(1, len(every))
    m["server.stalled_search_ms.max"] = max((r["lat_ms"] for r in stalled), default=0.0)
    m["server.max_qps"] = qps
    m["loadgen.late_ms.p99"] = st.percentile(late, 99.0)
    m["engine.answer_ms.p50"] = _p50([r["answer_ms"] for r in misses])
    if len(misses) > 10:
        m["engine.answer_ms.p99"] = st.tail_percentile([r["answer_ms"] for r in misses])[1]
    m["engine.rung_mean"] = sum(r["rung"] for r in misses) / max(1, len(misses))
    prof = [r["profile"] for r in misses if r.get("profile")]
    dec = sum(p["decoded"] for p in prof)
    skp = sum(p["skipped"] for p in prof)
    m["fastpath.blocks_decoded_per_query"] = dec / n_q
    m["fastpath.blocks_skipped_per_query"] = skp / n_q
    m["fastpath.skip_ratio"] = skp / (dec + skp) if dec + skp else 0.0

    # spans of the measured search requests
    agg = trace.self_times(spans, lambda s: bool(s[4]) and s[4][0] == "r")

    def g(name, field):
        return agg.get(name, {}).get(field, 0.0)

    m["analyzer.analyze_ms.self"] = g("analyzer", "self_ms") / n_q
    m["analyzer.calls"] = g("analyzer", "calls")
    m["engine.self_ms"] = g("engine", "self_ms") / n_q
    m["engine.expand_ms.self"] = g("engine.expand", "self_ms") / n_q
    m["engine.expanded_terms_per_query"] = g("engine.expand", "n") / n_q
    m["fastpath.search_rung_ms.self"] = g("fastpath", "self_ms") / n_q
    m["fastpath.posting_reads_per_query"] = g("fastpath.posting_read", "calls") / n_q
    m["fastpath.posting_read_ms"] = g("fastpath.posting_read", "total_ms") / n_q
    m["snippets.ms.self"] = g("snippets", "self_ms") / n_q
    m["codec.decode_calls"] = g("codec.decode", "calls") / n_q
    m["codec.decoded_postings"] = g("codec.decode", "n") / n_q
    m["codec.decode_ms.self"] = g("codec.decode", "self_ms") / n_q

    # spans of the /bulk requests
    bspans = [s for s in spans if s[4] and s[4][0] == "b"]
    n_b = max(1, len(bulks))

    def durs(name):
        return [(s[2] - s[1]) * 1e3 for s in bspans if s[0] == name]

    m["codec.encode_ms.self"] = sum(durs("codec.encode")) / n_b
    m["localbuild.build_ms.p50"] = _p50(durs("localbuild"))
    m["segments.add_segment_ms.p50"] = _p50(durs("segments.add_segment"))
    m["segments.reopen_ms.p50"] = _p50(durs("segments.reopen"))
    m["segments.generations"] = bulks[-1]["resp"]["generations"] if bulks else 1
    m["segments.spark_jobs_per_bulk"] = dump["ungrouped_jobs"] / n_b

    # Spark: per job group, from the event log
    groups = trace.spark_groups(trace.event_log_lines(os.path.join(work, "events")))
    walls = {"builder": built["build_s"]}
    if batch:
        walls.update(dedup=batch["dedup_s"], graph=batch["graph_s"])
    for name in SPARK_GROUPS:
        d = groups.get(name)
        if not d:
            continue
        m[f"{name}.jobs"] = d["jobs"]
        m[f"{name}.stages"] = d["stages"]
        m[f"{name}.tasks"] = d["tasks"]
        m[f"{name}.shuffle_write_mb"] = d["sw_b"] / MB
        m[f"{name}.shuffle_read_mb"] = d["sr_b"] / MB
        m[f"{name}.spill_mb"] = d["spill_b"] / MB
        m[f"{name}.executor_run_s"] = d["run_s"]
        m[f"{name}.executor_cpu_s"] = d["cpu_s"]
        m[f"{name}.gc_s"] = d["gc_s"]
        m[f"{name}.cpu_util"] = d["run_s"] / (walls[name] * cpus())
        m[f"{name}.task_skew"] = d["task_skew"]
    b = groups.get("builder", {})
    m["builder.python_bytes_sent_mb"] = b.get("py_sent_b", 0.0) / MB
    m["builder.python_bytes_received_mb"] = b.get("py_recv_b", 0.0) / MB
    m["builder.output_mb"] = built["index_bytes"] / MB
    if batch:
        m["dedup.docs_per_s"] = cfg["n_docs"] / (batch["dedup_s"] + batch["graph_s"])
        m["dedup.pairs"] = len(batch["pairs"])
        m["dedup.injected_recall"] = recall
        m["graph.clusters"] = batch["clusters"]
    m["trace.overhead_ratio"] = ratio
    return {k: (float(v), UNITS[k]) for k, v in m.items()}

"""Self-tests of the benchmark's own code: seeded generation, statistics,
the BM25 oracle, and the trace/event-log reducers.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, oracle, stats, trace  # noqa: E402

FILES = ("corpus.parquet", "queries.json", "bulk_000.ndjson", "bulk_001.ndjson")


def _read(d) -> dict:
    return {f: (d / f).read_bytes() for f in FILES}


def test_same_seed_gives_identical_files_and_another_seed_different(tmp_path):
    gen.write_inputs(str(tmp_path / "a"), 7, 400, 2)
    gen.write_inputs(str(tmp_path / "b"), 7, 400, 2)
    gen.write_inputs(str(tmp_path / "c"), 8, 400, 2)
    a, b, c = (_read(tmp_path / x) for x in "abc")
    assert a == b
    for f in FILES:
        assert a[f] != c[f], f


def test_corpus_shape():
    c = gen.make_corpus(3, 2000)
    assert len(c["vocab"]) >= 100_000
    assert len(set(c["path"])) == 2000
    # Zipf: the head identifier appears in a large share of the documents
    df = np.bincount(np.concatenate([np.unique(x) for x in c["id_lists"]]),
                     minlength=len(c["vocab"]))
    assert df.max() > 0.5 * 2000
    assert 0.03 < len(c["dup_pairs"]) / 2000 < 0.09
    lens = np.array([len(x) for x in c["id_lists"]])
    assert lens.max() > 5 * np.median(lens)  # log-normal tail
    assert any("\n" in t for t in c["content"])
    assert any(not v.isascii() for v in c["vocab"])


def test_bulk_batches_touch_each_key_once():
    c = gen.make_corpus(5, 1500)
    batches = gen.make_bulk(5, c, n_batches=8)
    keys = [op["key_id"] for b in batches for op in b["ops"]]
    assert len(keys) == len(set(keys))
    kinds = {op["op"] for b in batches for op in b["ops"]}
    assert kinds == {"index", "delete"}
    assert len({b["marker"] for b in batches}) == 8


def test_percentiles():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.median([3, 1, 2]) == 2
    # 1000 samples: p99 has 10 beyond it
    q, v = stats.tail_percentile(list(range(1000)), 99.0)
    assert q == 99.0 and v == pytest.approx(989.01)
    # 100 samples: the highest percentile with 10 samples beyond is p90
    q, _ = stats.tail_percentile(list(range(100)), 99.0)
    assert q == pytest.approx(90.0)
    with pytest.raises(ValueError):
        stats.tail_percentile(list(range(10)), 99.0)


def _mm1_step(rate: float, service_ms: float, n: int, rng) -> tuple[int, list, float]:
    """One simulated ladder step: exponential service, FIFO single server."""
    free = 0.0
    lat = []
    for i in range(n):
        arrive = i / rate * 1e3
        start = max(arrive, free)
        free = start + rng.exponential(service_ms)
        lat.append(free - arrive)
    backlog = free - (n - 1) / rate * 1e3
    return n, lat, backlog


def test_max_qps_on_synthetic_samples():
    rng = np.random.default_rng(0)
    ladder = stats.ladder(10.0, 1.1, 20)
    assert all(b / a == pytest.approx(1.1) for a, b in zip(ladder, ladder[1:]))
    found = []
    for _ in range(5):
        res = []
        for r in ladder:
            n, lat, backlog = _mm1_step(r, 20.0, 2000, rng)
            res.append((r, stats.step_ok(n, n, lat, 200.0, backlog)))
        found.append(stats.max_passing_rate(res))
    # capacity 50 req/s; with a p90 limit of 200 ms the knee sits near 40
    assert all(25 < f < 50 for f in found)
    assert max(found) / min(found) <= 1.1 ** 2
    # a failing first step, an incomplete step
    assert stats.max_passing_rate([(5.0, False), (6.0, True)]) == 0.0
    assert not stats.step_ok(10, 9, [1.0] * 9, 100.0, 0.0)


def test_oracle_matches_naive_scoring():
    c = gen.make_corpus(11, 300)
    o = oracle.Bm25Oracle(c)
    # naive twin: per-doc token lists from the program's tokenizer
    from gazetteer_search_spark.analyzer.tokenizer import tokenize_text

    docs = [tokenize_text(t) for t in c["content"]]
    assert [len(d) for d in docs] == o.doc_len.tolist()
    n, avg = len(docs), sum(map(len, docs)) / len(docs)
    q = [t for t in docs[5] if t.isalpha()][:2]

    def bm25(t, d):
        df = sum(t in x for x in docs)
        tf = docs[d].count(t)
        if not tf:
            return None
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(docs[d]) / avg))

    ids = np.arange(n)
    want = []
    for d in range(n):
        s = [bm25(t, d) for t in q]
        if all(x is not None for x in s):
            want.append((d, sum(s)))
    want.sort(key=lambda x: (-round(x[1], 9), x[0]))
    got = o.topk([[t] for t in q], len(q), 10, ids)
    assert [d for d, _ in got] == [d for d, _ in want[:10]]
    assert [s for _, s in got] == pytest.approx([s for _, s in want[:10]])


def test_shingle_jaccard():
    assert oracle.shingles("getUser(name) = getUser_name", 1) == {"getuser", "name"}
    assert oracle.shingles("a b c", 2) == {"a b", "b c"}
    assert oracle.jaccard({1, 2}, {2, 3}) == pytest.approx(1 / 3)


def test_self_times_and_spark_groups(tmp_path):
    spans = [
        ["engine", 0.0, 1.0, None, "r1", None],
        ["fastpath", 0.2, 0.6, 0, "r1", None],
        ["codec.decode", 0.3, 0.4, 1, "r1", {"n": 128}],
        ["engine", 0.0, 5.0, None, "b0", None],
    ]
    agg = trace.self_times(spans, lambda s: s[4] == "r1")
    assert agg["engine"]["self_ms"] == pytest.approx(600.0)
    assert agg["fastpath"]["self_ms"] == pytest.approx(300.0)
    assert agg["codec.decode"]["n"] == 128
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "builder"}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": 1,
           "Task Info": {"Launch Time": 0, "Finish Time": ms,
                         "Accumulables": [{"Name": trace.PY_SENT, "Update": 1024}]},
           "Task Metrics": {"Executor Run Time": ms, "Executor CPU Time": 1e9,
                            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}
          for ms in (100, 100, 400)],
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n{torn")
    g = trace.spark_groups(trace.event_log_lines(str(tmp_path)))["builder"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 3)
    assert g["run_s"] == pytest.approx(0.6) and g["cpu_s"] == pytest.approx(3.0)
    assert g["py_sent_b"] == 3072 and g["sw_b"] == 30
    assert g["task_skew"] == pytest.approx(4.0)


def test_reported_metrics_match_benchmark_json():
    from perfbench import layers, run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.METRICS
    reads = [{"status": 200, "lat_ms": float(i)} for i in range(1, 121)]
    bulks = [{"status": 200, "start": 0.0, "end": 2.0, "resp": {"indexed": 108, "deleted": 12}}]
    e2e = run.end_to_end(stats, 40.0, {"reads": reads, "stalled": [], "bulks": bulks},
                         {"n_docs": 100, "build_s": 2.0}, 400, 100, 2048)
    assert [(k, u) for k, (_, u) in e2e.items()] == [
        (m["name"], m["unit"]) for m in bench["end_to_end"]]
    assert e2e["ingest_docs_per_s"][0] == 60.0 and e2e["visible_p50_ms"][0] == 2000.0
    assert e2e["search_p99_ms"][0] == pytest.approx(stats.percentile(
        [r["lat_ms"] for r in reads], 100 * (1 - 10 / 120)))

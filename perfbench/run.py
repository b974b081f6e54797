#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the code-search engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
Any correctness mismatch prints ``correct: false`` and exits 1. See
perfbench/README.md for the workloads and the metric -> layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time
from urllib.parse import urlencode

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Spark driver heap of the host process: well under the 15 GiB of the
# reference box, and the box is shared
DRIVER_MEM = "3g"
SHINGLE_N = 3
THRESHOLD = 0.7
LADDER_LIMIT_MS = 1000.0  # p90 latency limit of a max-QPS ladder step

# measured reads per --seconds of the window (about what one client
# completes per second), and /bulk batches sent in the window: their median
# is visible_p50_ms, since one batch's time swings by a third between runs
READ_RATE = 10.0
N_BULKS = 2

# n_docs: corpus size
WORKLOADS = {
    # /bulk writes beside reads, then reads (hot pool + distinct tail queries)
    "ingest_mixed": {"mode": "serve", "n_docs": 6000},
    # build + near-dup mining, then the same write/read window on the result
    "batch_build_dedup": {"mode": "batch", "n_docs": 2000},
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# program host process
# ---------------------------------------------------------------------------


class Host:
    """perfbench/host.py in its own session (so the JVM and Python workers
    it spawns can be stopped as one group), with a /proc RSS sampler over
    the group's Python processes (host interpreter, Spark's Python workers).
    The JVM is left out of the sum: its heap is capped by
    SPARK_GRAFT_DRIVER_MEM and its RSS follows GC timing."""

    def __init__(self, mode: str, work: str, trace: int):
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(cpus()),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            PYTHONPATH=ROOT,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            PYSPARK_PYTHON=sys.executable,
            TMPDIR=os.path.join(work, "tmp"),
        )
        os.makedirs(env["TMPDIR"])
        self.log = open(os.path.join(work, "host.log"), "wb")
        self.p = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "host.py"),
             "--mode", mode, "--work", work, "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        self.rss_peak_kb = 0
        self._stop = threading.Event()
        threading.Thread(target=self._read, daemon=True).start()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _read(self) -> None:
        for line in self.p.stdout:
            try:
                self.lines.put(json.loads(line))
            except ValueError:
                continue
        self.lines.put(None)

    def _group_pids(self) -> list[int]:
        pids = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) == self.p.pid:  # process group id
                    pids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
        return pids

    def _sample(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in self._group_pids():
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        if not f.read().startswith("python"):
                            continue
                    with open(f"/proc/{pid}/status") as f:
                        for line in f:
                            if line.startswith("VmRSS:"):
                                total += int(line.split()[1])
                                break
                except OSError:
                    continue
            self.rss_peak_kb = max(self.rss_peak_kb, total)
            self._stop.wait(0.2)

    def expect(self, key: str, timeout: float = 600.0) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise RuntimeError(f"host: no {key!r} within {timeout:.0f} s")
            try:
                msg = self.lines.get(timeout=left)
            except queue.Empty:
                continue
            if msg is None:
                raise RuntimeError(f"host exited before {key!r} (see host.log)")
            if msg.get("event") == key or key in msg:
                return msg

    def send(self, obj: dict) -> None:
        self.p.stdin.write((json.dumps(obj) + "\n").encode())
        self.p.stdin.flush()

    def signal(self, sig) -> None:
        self.p.send_signal(sig)

    def stop(self) -> None:
        """SIGKILL the whole group (the run keeps nothing of its Spark
        state) and wait until every process of it is gone."""
        try:
            os.killpg(self.p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.p.wait()
        for _ in range(100):
            pids = self._group_pids()
            if not pids:
                break
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        self._stop.set()
        self._sampler.join()
        self.log.close()


# ---------------------------------------------------------------------------
# correctness checks
# ---------------------------------------------------------------------------


class Checks:
    def __init__(self) -> None:
        self.errors: list[str] = []

    def fail(self, msg: str) -> None:
        if len(self.errors) < 50:
            self.errors.append(msg)
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    @property
    def ok(self) -> bool:
        return not self.errors


def check_index(chk: Checks, index: str, corpus: dict, orc) -> dict:
    """Index doc count, term count and every doc length equal the
    generator's; returns path -> doc_id."""
    import numpy as np
    import pyarrow.dataset as ds

    docs = ds.dataset(os.path.join(index, "docs"), partitioning="hive").to_table(
        columns=["doc_id", "path", "doc_len"]).to_pandas()
    n_terms = ds.dataset(os.path.join(index, "term_stats"),
                         partitioning="hive").count_rows()
    if len(docs) != orc.n_docs:
        chk.fail(f"index has {len(docs)} docs, generator made {orc.n_docs}")
    if n_terms != orc.n_terms:
        chk.fail(f"index has {n_terms} terms, oracle counts {orc.n_terms}")
    pos = {p: i for i, p in enumerate(corpus["path"])}
    idx = docs["path"].map(pos)
    if idx.isna().any():
        chk.fail("index holds paths the generator never made")
        return {}
    bad = int((orc.doc_len[idx.to_numpy(dtype=np.int64)] != docs["doc_len"].to_numpy()).sum())
    if bad:
        chk.fail(f"{bad} docs have a doc_len different from the oracle's")
    return dict(zip(docs["path"], docs["doc_id"].astype(int)))


def check_oracle(chk: Checks, client, orc, corpus: dict, path_to_id: dict,
                 queries: dict) -> int:
    """POST /sendq answers equal the numpy BM25 oracle (order, paths, scores)
    for a seeded query sample; returns the number of queries compared."""
    import numpy as np

    from gazetteer_search_spark.analyzer.tokenizer import tokenize_text

    doc_ids = np.array([path_to_id[p] for p in corpus["path"]], dtype=np.int64)
    n = 0
    for j, q in enumerate(queries["hot"][:12] + queries["tail"][-12:]):
        toks = list(dict.fromkeys(tokenize_text(q["q"])))
        if not toks:
            continue
        msm = len(toks) - (j % 2 if len(toks) > 1 else 0)
        groups = [{"group_id": g, "terms": [t]} for g, t in enumerate(toks)]
        got = client.json("POST", "/sendq", {"groups": groups, "msm": msm, "k": 10})["hits"]
        want = orc.topk([[t] for t in toks], msm, 10, doc_ids)
        n += 1
        gp = [h["path"] for h in got]
        wp = [corpus["path"][i] for i, _ in want]
        if gp != wp:
            chk.fail(f"/sendq {toks} msm={msm}: ranks differ from the oracle: {gp[:3]} vs {wp[:3]}")
            continue
        for h, (_, s) in zip(got, want):
            if abs(h["score"] - s) > 1e-3:
                chk.fail(f"/sendq {toks}: score {h['score']} vs oracle {s:.6f}")
                break
    return n


def check_spark_path(chk: Checks, client, spark_hits: dict) -> None:
    """/search ladder answers (serving fast path) equal the Spark-path
    engine's answers for the same query."""
    for q, want in spark_hits.items():
        got = client.json("GET", "/search?" + urlencode([("q", q), ("size", "10")]))["hits"]
        if [[h["doc_id"], h["score"]] for h in got] != want:
            chk.fail(f"/search {q!r} differs from the Spark path")


def check_dedup(chk: Checks, corpus: dict, pairs: list, clusters: int,
                cluster_nodes: int) -> float:
    """Every reported pair is a real near-dup by exact shingle Jaccard, the
    cluster count matches the pairs' connected components; returns the
    recall of the generator's injected pairs that clear the threshold."""
    from perfbench.oracle import jaccard, shingles

    sh: dict[int, set] = {}

    def s(i: int) -> set:
        if i not in sh:
            sh[i] = shingles(corpus["content"][i], SHINGLE_N)
        return sh[i]

    found = set()
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, j in pairs:
        exact = jaccard(s(a), s(b))
        if a == b or exact < THRESHOLD - 1e-9 or abs(exact - j) > 1e-6:
            chk.fail(f"dedup pair ({a}, {b}) jaccard {j} vs exact {exact:.6f}")
        found.add((min(a, b), max(a, b)))
        parent[root(a)] = root(b)
    comps = len({root(x) for x in list(parent)})
    if comps != clusters or len(parent) != cluster_nodes:
        chk.fail(f"dup_clusters gave {clusters} clusters over {cluster_nodes} "
                 f"nodes, pairs imply {comps} over {len(parent)}")
    inj = [(min(a, b), max(a, b)) for a, b in corpus["dup_pairs"]
           if jaccard(s(a), s(b)) >= THRESHOLD]
    return sum(p in found for p in inj) / len(inj) if inj else 1.0


def marker_hits(client, term: str) -> list[tuple[str, int]]:
    """(path, doc_id) of every live doc holding ``term``, in rank order."""
    resp = client.json("POST", "/sendq", {"groups": [{"group_id": 0, "terms": [term]}],
                                          "k": 1000})
    return [(h["path"], h["doc_id"]) for h in resp["hits"]]


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------


# positions (mod 20) of the odd half of the read stream: typo queries, and
# tail queries (of which PREFIX_SLOTS ask for prefix expansion)
TYPO_SLOTS = (5, 11, 17)
PREFIX_SLOTS = (3, 9, 13, 19)
TAIL_SLOTS = (1, 3, 7, 9, 13, 15, 19)


def _nth(i: int, slots: tuple) -> int:
    """How many stream positions before ``i`` fall on ``slots``."""
    return i // 20 * len(slots) + sum(s < i % 20 for s in slots)


def read_paths(queries: dict, n: int, start: int, trace: int) -> list[str]:
    """Requests ``start .. start+n`` of the read stream. Even positions draw
    from the hot pool (Zipf-repeated: the request cache's regime; the draw
    pattern is the same for every seed, so each run repeats as often), odd
    ones take a never-seen tail query (first touch of its postings). The
    costly shapes sit at fixed positions, so every run carries the same
    number of each: of every 20 requests, three are a misspelled identifier
    (only the fuzzy rung answers it) and four tail queries ask for
    as-you-type prefix expansion; one request in 40 asks for highlighted
    snippets. These shares are assumptions, not taken from a query log. The
    counts are chosen so that, of 80 reads, the typos (12) and snippet
    pages (2) are the slowest 14, and the tail percentile (10 samples
    beyond it) lands among them rather than above them."""
    import numpy as np

    from perfbench.gen import zipf_cdf, zipf_draw

    # the last 12 tail queries belong to the oracle check, never to the stream
    hot, tail, typo = queries["hot"], queries["tail"][:-12], queries["typo"]
    rng = np.random.default_rng(4)
    picks = zipf_draw(rng, zipf_cdf(len(hot), 1.1), start + n)
    out = []
    for i in range(start, start + n):
        slot = i % 20
        if slot % 2 == 0:
            q = hot[int(picks[i])]
        elif slot in TYPO_SLOTS:
            q = typo[_nth(i, TYPO_SLOTS) % len(typo)]
        else:
            q = tail[_nth(i, TAIL_SLOTS) % len(tail)]
        params = [("q", q["q"])] + ([("lang", q["lang"])] if "lang" in q else [])
        if slot in PREFIX_SLOTS:
            params.append(("prefix", "true"))
        elif i % 40 == 1:
            params.append(("snippet", "2"))
        if trace:
            params.append(("profile", "true"))
        out.append("/search?" + urlencode(params))
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def du(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def window(client, chk: Checks, seconds: float, inputs: dict, trace: int) -> dict:
    """The measured window. First the /bulk batches go out back to back,
    each followed by a read-your-writes probe, while one reader goes on
    (its requests wait behind each bulk's hold on the engine lock: the
    stalled reads). Then one client sends ``seconds * READ_RATE`` reads in
    a closed loop, on the generations the bulks added: the measured reads.
    The stalled reads take the hot-pool positions after the measured ones,
    so the measured reads carry the same shapes on every run, and a bulk
    never waits long for the lock (a typo read holds it ~0.3 s)."""
    from perfbench import load

    n = int(seconds * READ_RATE)
    paths = read_paths(inputs["queries"], n + 2000, 0, trace)
    batches = inputs["bulk"]
    live: dict[str, int] = {}  # path -> doc_id of the version a bulk wrote

    def on_ack(i: int, resp: dict) -> bool:
        b = batches[i]
        idx = sorted(op["doc"]["path"] for op in b["ops"] if op["op"] == "index")
        n_del = sum(op["op"] == "delete" for op in b["ops"])
        ok = resp.get("indexed") == len(idx) and resp.get("deleted") == n_del
        if not ok:
            chk.fail(f"/bulk {i} acked {resp}, sent {len(idx)} docs + {n_del} deletes")
        hits = marker_hits(client, b["marker"])
        if sorted(p for p, _ in hits) != idx:
            chk.fail(f"/bulk {i}: marker finds {len(hits)} docs, batch has {len(idx)} live")
            ok = False
        live.update(hits)
        return ok

    done = threading.Event()
    bulks: list = []

    def writer():
        bodies = []
        for b in batches:
            with open(b["file"], "rb") as f:
                bodies.append(f.read())
        bulks.extend(load.run_bulks(client, bodies, on_ack))
        done.set()

    bt = threading.Thread(target=writer)
    bt.start()
    s0 = n + n % 2  # the first even (hot-pool) position after the measured reads
    stalled = load.closed_loop(client, paths[s0::2], "s", done)
    bt.join()
    reads = load.closed_loop(client, paths[:n], "r")
    return {"reads": reads, "stalled": stalled, "bulks": bulks, "live": live,
            "next_read": s0 + 2 * len(stalled)}


def check_final_state(chk: Checks, client, batches: list, live: dict,
                      n_sample: int = 24) -> None:
    """After the window, on a sample of the touched keys (each doc carries
    its own key token): a deleted key finds nothing, and a re-indexed or
    new key finds exactly one doc, the version its bulk wrote, so a
    superseded version left live shows as a second hit."""
    from perfbench.gen import key_token

    ops = [op for b in batches for op in b["ops"]]
    step = max(1, len(ops) // n_sample)
    for op in ops[::step]:
        path = op["doc"]["path"]
        got = marker_hits(client, key_token(op["key_id"]))
        want = [] if op["op"] == "delete" else [(path, live.get(path))]
        if got != want:
            chk.fail(f"{op['op']} of {path}: key finds {got[:3]}, want {want}")


def end_to_end(st, setup_s: float, win: dict, built: dict, index_bytes: int,
               content_bytes: int, rss_kb: int) -> dict:
    reads = [r for r in win["reads"] if r["status"] == 200]
    lat = [r["lat_ms"] for r in reads]
    q, p99 = st.tail_percentile(lat, 99.0)
    print(f"search latency over {len(lat)} requests: p50 {st.median(lat):.2f} ms, "
          f"p{q:.2f} {p99:.2f} ms", file=sys.stderr)
    acked = [b for b in win["bulks"] if b["status"] == 200]
    docs = sum(b["resp"]["indexed"] + b["resp"]["deleted"] for b in acked)
    busy = sum(b["end"] - b["start"] for b in acked)
    return {
        "setup_s": (setup_s, "s"),
        "search_p50_ms": (st.median(lat), "ms"),
        "search_p99_ms": (p99, "ms"),
        "ingest_docs_per_s": (docs / busy if busy else 0.0, "docs/s"),
        "visible_p50_ms": (st.median([(b["end"] - b["start"]) * 1e3 for b in acked]), "ms"),
        "build_docs_per_s": (built["n_docs"] / built["build_s"], "docs/s"),
        "index_bytes_per_input_byte": (index_bytes / content_bytes, "ratio"),
        "peak_rss_mb": (rss_kb / 1024.0, "MiB"),
    }


def run(args) -> int:
    from perfbench import gen, load, oracle
    from perfbench import stats as st

    cfg = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    chk = Checks()
    host = None
    try:
        t_setup = time.perf_counter()
        host = Host(cfg["mode"], work, args.trace)
        inputs = gen.write_inputs(os.path.join(work, "in"), args.seed, cfg["n_docs"], N_BULKS)
        corpus, queries = inputs["corpus"], inputs["queries"]
        host.expect("spark_ready")
        tail = queries["tail"]
        host.send({
            "corpus": os.path.join(work, "in", "corpus.parquet"),
            "shingle_n": SHINGLE_N, "threshold": THRESHOLD,
            "spark_path_queries": [queries["hot"][0]["q"], tail[-1]["q"], tail[-2]["q"]],
        })
        built = host.expect("built")
        index = os.path.join(work, "index")
        index_bytes = du(index)
        content_bytes = sum(len(c.encode()) for c in corpus["content"])
        batch = host.expect("deduped") if cfg["mode"] == "batch" else None
        spark_hits = None
        if args.trace:
            spark_hits = host.expect("spark_path")["hits"]
            v = host.expect("verified")
            if not v["ok"]:
                chk.fail(f"verify_index: {v['n_errors']} errors")
        ready = host.expect("ready")
        client = load.Client(ready["http"])
        for q in queries["hot"][:8]:  # warm-up
            client.request("GET", "/search?" + urlencode([("q", q["q"])]))
        setup_s = time.perf_counter() - t_setup

        # built only now, so it takes no CPU from the build or set-up
        orc = oracle.Bm25Oracle(corpus)
        path_to_id = check_index(chk, index, corpus, orc)
        n_oracle = check_oracle(chk, client, orc, corpus, path_to_id, queries) if path_to_id else 0
        if spark_hits is not None:
            check_spark_path(chk, client, spark_hits)
        recall = None
        if batch:
            recall = check_dedup(chk, corpus, batch["pairs"], batch["clusters"],
                                 batch["cluster_nodes"])

        win = window(client, chk, args.seconds, inputs, args.trace)
        check_final_state(chk, client, inputs["bulk"], win["live"])
        if args.trace:
            from perfbench import layers

            metrics = layers.per_layer(
                host, client, cfg, inputs, win,
                {**built, "index_bytes": index_bytes}, batch, recall, work)
        else:
            metrics = end_to_end(st, setup_s, win, built, index_bytes,
                                 content_bytes, host.rss_peak_kb)
        ops = win["reads"] + win["stalled"] + win["bulks"]
        attempted = len(ops) + n_oracle + (2 if batch else 1)
        failed = sum(r["status"] != 200 for r in ops)
    finally:
        if host is not None:
            host.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps({
        "correct": chk.ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if chk.ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gazetteer_search_spark", "__init__.py")):
        print("perfbench: no gazetteer_search_spark package next to the "
              "benchmark; run it from the root of a full checkout", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

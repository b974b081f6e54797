"""Program host: one process, one Spark session, driven by run.py.

    python perfbench/host.py --mode serve|batch --work DIR [--trace 1]

Starts Spark at once (so JVM start overlaps input generation in run.py),
then waits for one JSON line on stdin naming the inputs. It builds the
index with ``build_index`` (the serving shape: clustered by repo/path,
positions, stored content); in batch mode it then mines near-duplicates
with ``minhash_lsh_pairs`` + ``dup_clusters``; finally it serves the index
with ``cli serve --http --no-prefix`` in the same session, so ``POST
/bulk`` works. Every step reports one JSON line on stdout.

With ``--trace 1`` the Spark event log is on, each Spark call runs under
its own job group, a query sample is answered on the Spark-path engine,
``verify_index`` checks the fresh index, and the serving layers are
wrapped by perfbench.trace.
SIGUSR1 writes the spans to DIR/spans.json, SIGUSR2 toggles recording.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def say(**kw) -> None:
    print(json.dumps(kw), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["serve", "batch"], required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    work = os.path.abspath(args.work)

    from gazetteer_search_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the run's work directory
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.environ["TMPDIR"],
    }
    if args.trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench-host", extra_conf=conf)
    sc = spark.sparkContext
    say(event="spark_ready")

    req = json.loads(sys.stdin.readline())
    from pyspark.sql import functions as F

    from gazetteer_search_spark.index.builder import build_index

    def group(name: str) -> None:
        if args.trace:
            sc.setJobGroup(name, name)

    def corpus_df():
        c = spark.read.parquet(req["corpus"])
        # the doc_id rule of `cli build-index`
        return c.withColumn("doc_id", F.xxhash64("repo", "path", "commit")
                            .bitwiseAND(F.lit((1 << 62) - 1)))

    index = os.path.join(work, "index")
    group("builder")
    t = time.perf_counter()
    idx = build_index(spark, corpus_df(), index, n_buckets=8,
                      cluster_by=("repo", "path"), positions=True,
                      store_content=True)
    say(event="built", build_s=time.perf_counter() - t, n_docs=int(idx.n_docs))

    if args.mode == "batch":
        from gazetteer_search_spark.operators.dedup import minhash_lsh_pairs
        from gazetteer_search_spark.operators.graph import dup_clusters

        # the generator's row number rides in every path as "_<i>.<ext>"
        docs = spark.read.parquet(req["corpus"]).select(
            F.regexp_extract("path", r"_(\d+)\.\w+$", 1).cast("long").alias("gid"),
            "content",
        )
        group("dedup")
        t = time.perf_counter()
        pairs = [tuple(r) for r in minhash_lsh_pairs(
            docs, text_col="content", id_col="gid", n=req["shingle_n"],
            threshold=req["threshold"]).select("id_a", "id_b", "jaccard").collect()]
        dedup_s = time.perf_counter() - t
        group("graph")
        t = time.perf_counter()
        pdf = spark.createDataFrame([(a, b) for a, b, _ in pairs], "id_a long, id_b long")
        cl = dup_clusters(pdf).collect()
        graph_s = time.perf_counter() - t
        say(event="deduped", dedup_s=dedup_s, graph_s=graph_s, pairs=pairs,
            clusters=len({r["comp"] for r in cl}), cluster_nodes=len(cl))

    if args.trace:
        # Spark-path answers (for rank identity against /search) and the
        # structural index check are whole Spark jobs: traced pass only
        from gazetteer_search_spark.index.builder import load_index
        from gazetteer_search_spark.index.verify import verify_index
        from gazetteer_search_spark.search.engine import SearchEngine, SearchOptions

        group("spark_path")
        eng = SearchEngine(spark, load_index(spark, index))
        opts = SearchOptions(k=10, prefix=False)  # the server runs --no-prefix
        say(event="spark_path", hits={
            q: [[h.doc_id, round(float(h.score), 4)] for h in eng.search_hits(q, opts)]
            for q in req["spark_path_queries"]})
        group("verify")
        rep = verify_index(spark, index)
        say(event="verified", ok=bool(rep["ok"]), n_errors=int(rep.get("n_errors", 0)))

    group("serving")
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer()
        trace.install_serving(tracer)

        def dump(_sig, _frm):
            # jobs outside any group: the /bulk requests' (handler threads)
            jobs = len(sc.statusTracker().getJobIdsForGroup(None))
            tmp = os.path.join(work, "spans.tmp")
            with open(tmp, "w") as f:
                json.dump({"spans": tracer.finished(), "ungrouped_jobs": jobs}, f)
            os.replace(tmp, os.path.join(work, "spans.json"))

        def toggle(_sig, _frm):
            tracer.on = not tracer.on

        signal.signal(signal.SIGUSR1, dump)
        signal.signal(signal.SIGUSR2, toggle)

    from gazetteer_search_spark import cli

    # serves until run.py kills the process group
    cli.main(["serve", "--index", index, "--http", "0", "--no-prefix"])


if __name__ == "__main__":
    main()

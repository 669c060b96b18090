"""Load benchmark for zebra_spark: one command, three seeded workloads.

    python3 loadbench/run.py --workload serve_knn --seed 1 --seconds 20 --trace 0

Run from the repository root.  Prints the workload's end-to-end figures
(or, with --trace 1, its per-layer figures) one per line, then one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

See loadbench/README.md for the workloads, the metrics and the sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# per workload: the quality figure result_recall reports
RECALL = {
    "serve_knn": "recall_at_10",
    "ingest_rw": "rw_fresh_hit",
    "dedup_snapshot": "dedup_pair_recall",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(RECALL))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the self-test")
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and make
    zebra_spark importable by the Spark driver and its Python workers."""
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={work} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("ZEBRA_DRIVER_MEM", "2g")
    sys.path.insert(0, str(ROOT))


def tail(samples: list[float]):
    """Highest ladder percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    for p in TAIL_LADDER:
        if len(xs) * (1 - p / 100) >= 10:
            return statistics.quantiles(xs, n=1000, method="inclusive")[
                int(p * 10) - 1
            ], p
    return None, None


def log(msg: str) -> None:
    print(f"[loadbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def install_tracer(tracer):
    from zebra_spark import embed, graph, session
    from zebra_spark.database import ZebraDatabase
    from zebra_spark.index.lsh import LSHIndex
    from zebra_spark.queries import dedup

    from pyspark import SparkContext

    sizes = {}  # id(index) -> (index, its bucket sizes)

    def after_search(out, args, kwargs):
        """Candidate rows the query gathers: its probe keys joined to the
        index's bucket sizes (before cross-tree de-duplication).  The
        Spark jobs this runs stay out of the request's job group."""
        index, vectors = args[0], args[1]
        probes = kwargs.get("probes", 8)
        tracer.count("index.lsh.appends_at_query", index.appends)
        tracer.count("index.lsh.searches")
        sc = SparkContext._active_spark_context
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", None)
        try:
            if id(index) not in sizes:
                sizes[id(index)] = (index, index.bucket_counts().toPandas())
            keys = index.probe_keys(vectors, probes)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)
        got = keys.drop_duplicates().merge(
            sizes[id(index)][1], on=["tree_id", "bucket_id", "nbits"], how="left"
        )
        tracer.count("index.lsh.candidate_rows", got["n"].fillna(0).sum())
        tracer.count("index.lsh.probed_queries", keys["query_id"].nunique())

    tracer.wrap(session, "get_spark", "session.start")
    tracer.wrap(embed, "hash_tf_embedding", "embed.hash_tf_embedding")
    tracer.wrap(ZebraDatabase, "insert_records", "database.insert")
    tracer.wrap(ZebraDatabase, "query_vectors", "database.query")
    tracer.wrap(ZebraDatabase, "remove", "database.remove")
    tracer.wrap(LSHIndex, "build", "index.lsh.build")
    tracer.wrap(LSHIndex, "search_vectors", "index.lsh.search", after_search)
    tracer.wrap(LSHIndex, "add", "index.lsh.add")
    tracer.wrap(LSHIndex, "compact", "index.lsh.compact")
    tracer.wrap(dedup, "pair_table", "queries.dedup.pairs")
    tracer.wrap(dedup, "cluster_label_table", "queries.dedup.clusters")
    tracer.wrap(graph, "connected_components", "graph.cc")
    tracer.install()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "zebra_spark" / "__init__.py").is_file():
        print(f"zebra_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    runs = ROOT / ".loadbench_run"
    work = runs / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "spark").mkdir(parents=True)
    prepare_env(work)
    try:
        return run(args, work, runs)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def stop_spark() -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: Path, runs: Path) -> int:
    import workloads
    from spans import SparkJobCounter, Tracer

    tracer = Tracer() if args.trace else None
    if tracer:
        install_tracer(tracer)
    from zebra_spark import session

    rec = workloads.Recorder(tracer)
    size = workloads.SIZES[args.scale][args.workload]
    wl = workloads.WORKLOADS[args.workload](args.seed, size, str(work), rec)

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    t0 = time.perf_counter()
    spark = session.get_spark("loadbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0
    log(f"session {start_s:.2f} s, prepare {prepare_s:.2f} s")
    # every set-up builds the workload's serving state from what
    # prepare left; the last one is kept
    setup_s, build_s = [], []
    for rep in range(SETUP_REPS):
        n_spans = len(tracer.spans) if tracer else 0
        t0 = time.perf_counter()
        wl.setup(spark, rep)
        setup_s.append(time.perf_counter() - t0)
        log(f"setup {rep}: {setup_s[-1]:.2f} s")
        if tracer:
            build_s.append(sum(
                s["end"] - s["start"] for s in tracer.spans[n_spans:]
                if s["name"] == "index.lsh.build"
            ))
    t0 = time.perf_counter()
    wl.warmup()
    log(f"warm-up {time.perf_counter() - t0:.2f} s")

    if tracer:
        rec.jobs = SparkJobCounter(spark)
        tracer.counts.clear()
    wl.measuring = True
    i = n_traced = 0
    t_start = time.perf_counter()
    # at least one whole round, so that every request type is measured
    while i < wl.cycle or time.perf_counter() - t_start < args.seconds:
        if tracer:
            # alternate rounds of the request mix traced and plain: the
            # difference between the two is the tracing overhead
            traced = (i // wl.cycle) % 2 == 0
            (tracer.install if traced else tracer.uninstall)()
            tracer.op = i // wl.cycle
            n_traced += traced and i % wl.cycle == 0
        try:
            wl.op(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        i += 1
    elapsed = time.perf_counter() - t_start
    n_ops = i
    wl.measuring = False
    if tracer:
        tracer.uninstall()
    try:
        wl.finish()
    except Exception:
        traceback.print_exc(file=sys.stderr)

    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    peak_mb = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)

    if tracer:
        metrics = layer_metrics(args, wl, rec, tracer, start_s, build_s,
                                n_traced)
        (runs / "traces").mkdir(exist_ok=True)
        tracer.write(
            str(runs / "traces" / f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": metrics},
        )
    else:
        metrics = end_to_end(args, wl, rec, setup_s, elapsed, n_ops, peak_mb)
        metrics["session_start_s"] = {"value": start_s, "unit": "s"}
        metrics["prepare_s"] = {"value": prepare_s, "unit": "s"}
    for name, m in metrics.items():
        value = "nan" if m["value"] is None else f"{m['value']:.6g}"
        extra = "".join(f" {k}={v}" for k, v in m.items() if k not in ("value", "unit"))
        print(f"{name:34s} {value} {m['unit']}{extra}")
    named = benchmark_names("per_layer" if args.trace else "end_to_end")
    result = {
        "correct": rec.failed == 0,
        "attempted": max(1, rec.attempted),
        "failed": rec.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items() if k in named},
    }
    print(json.dumps(result))
    return 0


def _median_ms(xs):
    return statistics.median(xs) * 1000 if xs else None


def _mix_median_ms(by_kind: dict[str, list[float]]):
    """Each request type's median, weighted by the type's share of the
    requests.  Unlike the median of all requests pooled, it does not
    jump with the type the run happens to end on when the types of a
    mix cost different amounts."""
    n = sum(len(xs) for xs in by_kind.values())
    if not n:
        return None
    return sum(len(xs) * statistics.median(xs) for xs in by_kind.values() if xs) / n * 1000


def end_to_end(args, wl, rec, setup_s, elapsed, n_ops, peak_mb) -> dict:
    """The figures a user sees.  Every workload reports the generic ones
    BENCHMARK.json bounds; the workload-specific ones are printed beside
    them (nan where a workload has no such request)."""
    s = rec.samples
    recall_name = RECALL[args.workload]
    every = [x for xs in s.values() for x in xs]
    # throughput over the time spent inside the requests that carry the
    # items, so neither the other requests of the mix nor the benchmark's
    # own output checks between requests count against it
    busy = sum(sum(s[k]) for k in wl.item_kinds)
    per_s = wl.items / busy if busy else None
    specific = wl.report()
    out = {
        "setup_s": {"value": statistics.median(setup_s), "unit": "s",
                    "n": len(setup_s)},
        "op_p50_ms": {"value": _mix_median_ms(s), "unit": "ms",
                      "n": len(every), "of": "every_request"},
        "items_per_s": {"value": per_s, "unit": "1/s",
                        "items": wl.unit_items.replace(" ", "_")},
        "result_recall": {"value": specific[recall_name][0], "unit": "share",
                          "n": specific[recall_name][2], "of": recall_name},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB", "n": 1},
    }

    def put(name, value, unit, n=None, **kw):
        m = {"value": float("nan") if value is None else value, "unit": unit}
        if n is not None:
            m["n"] = n
        m.update(kw)
        out[name] = m

    def tail_ms(name, xs):
        v, p = tail(xs)
        put(name, None if v is None else v * 1000, "ms", len(xs),
            percentile=p if p else "n/a")

    put("ann_query_p50_ms", _median_ms(s["ann_query"]), "ms", len(s["ann_query"]))
    tail_ms("ann_query_tail_ms", s["ann_query"])
    put("exact_query_p50_ms", _median_ms(s["exact_query"]), "ms",
        len(s["exact_query"]))
    serve = args.workload == "serve_knn"
    put("query_vectors_per_s", per_s if serve else None, "1/s")
    put("recall_at_10", *(specific.get("recall_at_10") or (None, "share", 0)))
    put("insert_p50_ms", _median_ms(s["insert"]), "ms", len(s["insert"]))
    tail_ms("insert_tail_ms", s["insert"])
    ingest = args.workload == "ingest_rw"
    put("ingest_docs_per_s", per_s if ingest else None, "1/s")
    put("rw_query_p50_ms", _median_ms(s["rw_query"]), "ms", len(s["rw_query"]))
    put("remove_p50_ms", _median_ms(s["remove"]), "ms", len(s["remove"]))
    snap = statistics.median(s["snapshot"]) if s["snapshot"] else None
    put("dedup_snapshot_s", snap, "s", len(s["snapshot"]))
    put("dedup_pair_recall",
        *(specific.get("dedup_pair_recall") or (None, "share", 0)))
    put("store_bytes_per_user_byte",
        *(specific.get("store_bytes_per_user_byte") or (None, "ratio", 0)))
    put("failed_op_share", rec.failed / max(1, rec.attempted), "share",
        rec.attempted)
    out["ops"] = {"value": n_ops, "unit": "count", "seconds": round(elapsed, 3)}
    return out


def layer_metrics(args, wl, rec, tracer, start_s, build_s, n_traced) -> dict:
    """Per-layer figures from the traced rounds of the request mix.
    Unit `s/op` is seconds per round and `count/op` a count per round;
    `spark.*_per_<request>` are per request of that type."""
    from spans import durations
    from workloads import dir_bytes

    dur = durations([s for s in tracer.spans if s["op"] is not None])
    n = max(1, n_traced)
    c = tracer.counts
    out = {}

    def put(name, value, unit):
        out[name] = {"value": float(value), "unit": unit}

    def from_spans(metric, span, field="busy"):
        busy, self_s, calls = dur.get(span, (0.0, 0.0, 0))
        if field == "calls":
            put(metric, calls / n, "count/op")
        else:
            put(metric, (busy if field == "busy" else self_s) / n, "s/op")

    def ratio(num, den):
        return num / den if den else 0.0

    put("session.start_s", start_s, "s")
    for kind in ("ann_query", "exact_query", "insert", "rw_query", "remove",
                 "snapshot"):
        for what, v in zip(("jobs", "stages", "tasks"), rec.jobs.means(kind)):
            put(f"spark.{what}_per_{kind}", v, "count")
    from_spans("spark.action.busy_s", "spark.action")
    from_spans("index.lsh.search.busy_s", "index.lsh.search")
    from_spans("index.lsh.search.calls", "index.lsh.search", "calls")
    put("index.lsh.candidates_per_query",
        ratio(c["index.lsh.candidate_rows"], c["index.lsh.probed_queries"]),
        "count")
    put("index.lsh.build_s", statistics.median(build_s) if build_s else 0.0,
        "s/setup")
    from_spans("index.lsh.rebuild.busy_s", "index.lsh.build")
    from_spans("index.lsh.add.busy_s", "index.lsh.add")
    from_spans("index.lsh.compact.calls", "index.lsh.compact", "calls")
    from_spans("index.lsh.compact.busy_s", "index.lsh.compact")
    put("index.lsh.appends_at_query",
        ratio(c["index.lsh.appends_at_query"], c["index.lsh.searches"]), "count")
    from_spans("embed.calls", "embed", "calls")
    put("embed.docs", c["embed.docs"] / n, "count/op")
    from_spans("embed.busy_s", "embed")
    from_spans("database.insert.calls", "database.insert", "calls")
    put("database.insert.rows", c["database.insert.rows"] / n, "count/op")
    from_spans("database.insert.self_s", "database.insert", "self")
    from_spans("database.query.calls", "database.query", "calls")
    from_spans("database.query.self_s", "database.query", "self")
    from_spans("database.remove.calls", "database.remove", "calls")
    from_spans("database.remove.self_s", "database.remove", "self")
    db = getattr(wl, "db", None)
    put("database.store_bytes", dir_bytes(db.path) if db else 0, "bytes")
    from_spans("queries.dedup.pairs.busy_s", "queries.dedup.pairs")
    put("queries.dedup.candidates", c["queries.dedup.candidates"] / n, "count/op")
    put("queries.dedup.edges", c["queries.dedup.edges"] / n, "count/op")
    put("queries.dedup.edge_yield",
        ratio(c["queries.dedup.edges"], c["queries.dedup.candidates"]), "ratio")
    from_spans("graph.cc.busy_s", "graph.cc")
    # per request type, since a short run may trace a whole round but
    # leave only part of the next one plain
    ratios = [statistics.median(xs) / statistics.median(rec.samples[k])
              for k, xs in rec.traced.items() if xs and rec.samples.get(k)]
    put("trace.overhead_frac", statistics.mean(ratios) - 1 if ratios else 0.0,
        "ratio")
    out["trace.traced_rounds"] = {"value": n_traced, "unit": "count"}
    return out


def benchmark_names(kind: str) -> set[str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())

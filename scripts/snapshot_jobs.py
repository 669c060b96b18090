"""Spark jobs and wall time per phase of a near-dup snapshot, without a
traced benchmark run.

Runs N fresh 1,000-doc corpus snapshots (inputs from
loadbench/inputs.py, the dedup_snapshot workload's generator) through
the workload's call sequence — pair_table -> threshold count ->
cluster_label_table -> toPandas — after a few untimed warm-up
snapshots, and prints, per phase, the Spark jobs, tasks and wall time
each snapshot spent there (counted by job group through the status
tracker), plus the per-snapshot totals.

    python scripts/snapshot_jobs.py [n_snapshots] [--seed S] [--warmup W]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "loadbench"))

PHASES = ("pair_build", "threshold_count", "clusters", "collect")
N_DOCS, PLANTED_SHARE = 1_000, 0.2  # the dedup_snapshot workload's size


def snapshot(spark, text, i: int, work: str, phase) -> None:
    """One snapshot in the workload's call sequence; `phase(name)` is a
    context manager around each timed step."""
    import inputs
    import pandas as pd

    from zebra_spark.queries import dedup

    snap = inputs.snapshot(text, i, N_DOCS, PLANTED_SHARE)
    d = f"{work}/snap_{i}"
    os.makedirs(d)
    pd.DataFrame({"doc_id": snap.doc_ids, "text": snap.texts,
                  "source": "gen"}).to_parquet(f"{d}/documents.parquet")
    before = dedup.derived_registry_snapshot()
    try:
        with phase("pair_build"):
            pairs = dedup.pair_table(spark, d)
        with phase("threshold_count"):
            pairs.filter(
                dedup.jaccard_expr() >= dedup.MINHASH_THRESHOLD
            ).count()
        with phase("clusters"):
            labels = dedup.cluster_label_table(spark, d)
        with phase("collect"):
            labels.toPandas()
    finally:
        dedup.restore_derived_registry(before)
        shutil.rmtree(d, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n", type=int, nargs="?", default=11)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--warmup", type=int, default=3)
    args = ap.parse_args()

    from contextlib import contextmanager

    import inputs

    from zebra_spark.session import get_spark

    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark("snapshot-jobs", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    text = inputs.TextSource(args.seed)
    work = tempfile.mkdtemp(prefix="zebra_snapshot_jobs_")
    # per timed snapshot: {phase: (job group, seconds)}
    runs: list[dict[str, tuple[str, float]]] = []

    @contextmanager
    def untimed(name):
        yield

    try:
        for i in range(args.warmup):
            snapshot(spark, text, 10_000 + i, work, untimed)
        for i in range(args.n):
            run: dict[str, tuple[str, float]] = {}

            @contextmanager
            def timed(name):
                gid = f"snapshot-{i}-{name}"
                sc.setJobGroup(gid, name)
                t0 = time.perf_counter()
                try:
                    yield
                finally:
                    run[name] = (gid, time.perf_counter() - t0)
                    sc.setLocalProperty("spark.jobGroup.id", None)

            snapshot(spark, text, i + 1, work, timed)
            runs.append(run)

        # listener events arrive in order: once a marker job is visible,
        # every job the snapshots started is too
        sc.setJobGroup("snapshot-marker", "marker")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        while not tracker.getJobIdsForGroup("snapshot-marker"):
            time.sleep(0.05)

        def counts(gid: str) -> tuple[int, int]:
            jobs = tasks = 0
            for jid in tracker.getJobIdsForGroup(gid):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
            return jobs, tasks

        print(f"{args.n} snapshots of {N_DOCS} docs after {args.warmup} "
              f"warm-ups, seed {args.seed}, {cpus} cores; medians "
              "(min-max) per snapshot")
        print(f"{'phase':<16}{'jobs':>12}{'tasks':>12}{'wall ms':>20}")
        totals = [[0, 0, 0.0] for _ in runs]
        for name in PHASES:
            jobs, tasks, ms = [], [], []
            for t, run in zip(totals, runs):
                gid, secs = run[name]
                j, k = counts(gid)
                jobs.append(j)
                tasks.append(k)
                ms.append(secs * 1e3)
                t[0] += j
                t[1] += k
                t[2] += secs * 1e3
            print(_row(name, jobs, tasks, ms))
        print(_row("snapshot", *zip(*totals)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def _row(name, jobs, tasks, ms) -> str:
    def cell(xs, width):
        return f"{median(xs):.0f} ({min(xs):.0f}-{max(xs):.0f})".rjust(width)

    return f"{name:<16}{cell(jobs, 12)}{cell(tasks, 12)}{cell(ms, 20)}"


if __name__ == "__main__":
    main()

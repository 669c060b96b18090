"""Self-test for the load benchmark (a few minutes on 4 cores).

    python3 loadbench/selftest.py

Checks that the same seed regenerates identical inputs (and another seed
does not), then runs every workload at the tiny scale, plain and traced,
and checks that each run ends with the result line BENCHMARK.json asks
for: every named metric present with its unit, every output check
passed, and every end-to-end figure of the workload printed by name
with its unit.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402

PRINTED = (
    "setup_s", "ann_query_p50_ms", "ann_query_tail_ms", "exact_query_p50_ms",
    "query_vectors_per_s", "recall_at_10", "insert_p50_ms", "insert_tail_ms",
    "ingest_docs_per_s", "rw_query_p50_ms", "remove_p50_ms",
    "dedup_snapshot_s", "dedup_pair_recall", "store_bytes_per_user_byte",
    "peak_rss_mb", "failed_op_share",
)


def generated(seed: int) -> str:
    v = inputs.vector_set(seed, 300, 20, 16, 4, 8, 16, 0.1)
    text = inputs.TextSource(seed, vocab=2_000)  # shared vocabulary
    snap = inputs.snapshot(text, 1, 50, 0.1)
    return inputs.fingerprint(
        v.corpus, v.queries, v.truth_ids, v.truth_dist, v.batches, v.exact,
        text.base(20), text.batch(3, 10), snap.texts, snap.planted,
    )


def check_inputs() -> None:
    assert generated(7) == generated(7), "same seed gave different inputs"
    assert generated(7) != generated(8), "different seeds gave equal inputs"
    v = inputs.vector_set(1, 300, 20, 16, 4, 8, 16, 0.1)
    brute = ((v.queries[:, None, :] - v.corpus[None]) ** 2).sum(-1)
    assert (v.truth_ids == brute.argsort(1, kind="stable")[:, : inputs.K]).all()
    print("inputs: deterministic per seed, ground truth matches brute force")


def run(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "5", "--trace", str(trace),
           "--scale", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, sorted(got)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), m
    if not trace:
        printed = {ln.split()[0]: ln.split()[2] for ln in lines[:-1] if ln.split()}
        for name in PRINTED:
            assert name in printed, f"{name} not printed"
    print(f"{workload} trace={trace}: ok ({result['attempted']} operations)")


def main() -> int:
    check_inputs()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload in ("serve_knn", "ingest_rw", "dedup_snapshot"):
        for trace in (0, 1):
            run(workload, trace, spec)
    print("self-test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

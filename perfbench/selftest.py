"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py          # names and checks, no Spark (~5 s)
    python3 perfbench/selftest.py --full   # also each workload end to end
                                           # with a fault injected (~3 min)

Asserts that the metric names and units the code emits are exactly those
in BENCHMARK.json, and that a wrong row, a wrong response or a wrong
snapshot count is counted as a failed op, never passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

from checks import digest, response_problem, snapshot_problems  # noqa: E402
from common import UNITS  # noqa: E402
from tracing import LAYER_METRICS  # noqa: E402


def check_names() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == UNITS, f"end_to_end {e2e} != emitted {UNITS}"
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == LAYER_METRICS, "per_layer differs from tracing.LAYER_METRICS"
    from run import WORKLOADS

    listed = {w["name"] for w in spec["workloads"]}
    assert listed == set(WORKLOADS), f"listed {listed} != runnable {set(WORKLOADS)}"


def check_faults_counted() -> None:
    cols, rows = ["k", "v"], [(1, 0.5), (2, None)]
    good = digest(cols, rows)
    assert digest(cols, list(reversed(rows))) == good, "digest must ignore order"
    assert digest(cols, rows + [(None, None)]) != good, "extra row passed"
    assert digest(cols, [(1, 0.5000001), (2, None)]) != good, "wrong value passed"

    want = [(1, "a", 2.5)]
    body = {"success": True, "columns": ["k", "s", "x"], "row_count": 1,
            "data": [{"k": 1, "s": "a", "x": 2.5}]}
    assert response_problem(body, want, "exact", 10) is None
    wrong = dict(body, data=[{"k": 1, "s": "a", "x": 2.6}])
    assert response_problem(wrong, want, "exact", 10), "wrong value passed"
    assert response_problem(dict(body, row_count=2), want, "exact", 10)
    assert response_problem(body, want + want, "subset", 10), "short scan passed"
    assert response_problem(dict(body, success=False), want, "exact", 10)

    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as snap:
        os.makedirs(os.path.join(snap, "t"))
        pq.write_table(pa.table({"a": [1, 2, 3]}), os.path.join(snap, "t", "p.parquet"))
        manifest = {"version": "v1", "snapshot_dir": snap, "tables": {"t": 3}}
        assert snapshot_problems(manifest, {"t": 3}) == []
        assert snapshot_problems(manifest, {"t": 4}), "row-count mismatch passed"


def check_runs() -> None:
    """Each workload, briefly, with one output corrupted: the result line
    must name exactly the declared metrics and report the failure."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = [("query_mix", 0), ("etl_sync", 0), ("etl_sync", 1)]
    for workload, trace in runs:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace),
             "--inject-fault"],
            cwd=REPO, capture_output=True, text=True, check=True,
        )
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        assert set(line["metrics"]) == names, f"{workload}: metric names differ"
        assert line["failed"] >= 1 and not line["correct"], (
            f"{workload}: injected fault not counted: {line}"
        )
        print(f"{workload} trace={trace}: ok ({line['failed']} of "
              f"{line['attempted']} failed, as injected)", flush=True)


def main() -> None:
    check_names()
    check_faults_counted()
    print("names and checks: ok", flush=True)
    if "--full" in sys.argv[1:]:
        check_runs()


if __name__ == "__main__":
    main()

"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout and builds nothing: the program is the
``ser_etl_spark`` package next to this directory. Inputs are generated
into ``.perfbench/data`` once (fixed data seed); every run gets a fresh
private ``TMPDIR`` and Spark local dir under ``.perfbench/runs`` that is
removed when it ends, so no run inherits another's artifact cache. A
detail file per run goes to ``.perfbench/out``. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

from common import UNITS, Context, end_to_end, master  # noqa: E402

#: workload -> the module whose ``run(ctx)`` runs it
WORKLOADS = {"query_mix": "querymix", "etl_sync": "etl"}


def declared_metrics(trace: bool) -> set[str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(out, trace: bool) -> dict:
    """The result object: end-to-end metrics untraced, the
    per-layer ones traced (their units come from tracing.LAYER_METRICS)."""
    e2e = end_to_end(out)
    out.detail["end_to_end"] = e2e
    if trace:
        from tracing import LAYER_METRICS

        metrics = {
            k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in out.layers.items()
        }
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    if set(metrics) != declared_metrics(trace):
        raise SystemExit("metric names differ from BENCHMARK.json")
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def write_detail(ctx: Context, workload: str, out) -> None:
    """Keep the run's detail; a traced run also reports its overhead
    against the untraced run of the same workload and seed, if any."""
    out_dir = os.path.join(REPO, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{workload}-seed{ctx.seed}")
    if ctx.trace and os.path.exists(f"{stem}-trace0.json"):
        with open(f"{stem}-trace0.json") as fh:
            plain = json.load(fh)["end_to_end"]
        out.detail["tracing_overhead"] = {
            k: v - plain[k] for k, v in out.detail["end_to_end"].items()
        }
        print(f"tracing overhead: {out.detail['tracing_overhead']}", file=sys.stderr)
    import pyspark

    out.detail["host"] = {
        "nproc": os.cpu_count(),
        "master": master(),
        "spark": pyspark.__version__,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": ctx.trace,
        "attempted": out.attempted,
        "failed": out.failed,
    }
    with open(f"{stem}-trace{int(ctx.trace)}.json", "w") as fh:
        json.dump(out.detail, fh, indent=1, sort_keys=True, default=str)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--inject-fault",
        action="store_true",
        help="corrupt one checked output (self-test: it must count as failed)",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "ser_etl_spark")):
        print("ser_etl_spark not found next to perfbench/", file=sys.stderr)
        return 2
    runs = os.path.join(REPO, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    ctx = Context(
        data_root=os.path.join(REPO, ".perfbench", "data"),
        run_dir=run_dir,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        inject_fault=args.inject_fault,
    )
    os.makedirs(ctx.tmp_dir)
    os.environ["TMPDIR"] = ctx.tmp_dir
    tempfile.tempdir = ctx.tmp_dir
    try:
        out = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
        line = result_line(out, ctx.trace)
        write_detail(ctx, args.workload, out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for problem in out.detail.get("problems", [])[:20]:
        print(f"FAILED: {problem}", file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

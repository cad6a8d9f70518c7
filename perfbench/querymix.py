"""``query_mix``: one closed-loop client running registry queries.

Each op is ``builder(spark, sf_dir).collect()`` for one registry query;
a pass runs every query of ``QUERIES`` once, in an order drawn from the
seed. The cold first pass and ``WARMUP_PASSES`` more belong to set-up.
Each result is checked against the DuckDB oracle twin's stored digest
after its timing.
"""

from __future__ import annotations

import json
import os
import time

import datagen
from checks import digest
from common import Context, Outcome, peak_rss_mb, start_spark, stop_spark, timed

#: sf0.01: a warm pass of these queries takes ~6 s on 4 cores, so a run
#: of the budgeted length holds three passes (see README.md).
SF = 0.01

#: SQL-analytic queries, then a corpus one. An odd count: the median
#: latency then falls on one query's samples, not between two queries'.
QUERIES = (
    "pricing_summary",
    "group_by",
    "scd2_state_history",
    "rolling_active_users",
    "stats_moments",
    "streaming_tumbling_counts",
    "incremental_dedup",
)

#: Warm passes after the cold one that still belong to set-up: the JIT
#: keeps shortening passes after the cold one, so a window that began there
#: gave a median that depended on how many passes it held.
WARMUP_PASSES = 1

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def load_golden() -> dict[str, str]:
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    if golden["sf"] != SF or golden["data_seed"] != datagen.DATA_SEED:
        raise SystemExit("golden.json was made for other inputs; rerun make_golden.py")
    return golden["digests"]


def _plain_op(spark, build, sf_dir, tracer, label):
    """``(columns, rows, seconds)`` of one build + collect."""
    t0 = time.perf_counter()
    df = build(spark, sf_dir)
    rows = df.collect()
    return df.columns, rows, time.perf_counter() - t0


def _traced_op(spark, build, sf_dir, tracer, label):
    """Build, ``noop`` write and collect under separate job groups, then
    read each group from the status store.

    Transfer is the collect's wall time outside its Spark jobs (planning
    before the first job, row conversion after the last), not collect
    minus the ``noop`` write: a plan that fills a lazy cache pays for it
    in whichever action runs first, which made that difference negative
    (about -1 s per op on ``simhash_pairs``)."""
    tracker = spark.sparkContext.statusTracker()
    tracer.set_group(f"{label}-build")
    df, build_s = timed(build, spark, sf_dir)
    tracer.set_group(f"{label}-exec")
    _, wall_s = timed(df.write.format("noop").mode("overwrite").save)
    tracer.set_group(f"{label}-collect")
    rows, collect_s = timed(df.collect)
    tracer.set_group(None)
    ex = tracer.group_stats(f"{label}-exec")
    co = tracer.group_stats(f"{label}-collect")
    layer = {
        "operators.build_ms": build_s * 1000.0,
        "operators.build_jobs": len(tracker.getJobIdsForGroup(f"{label}-build")),
        "plan.ms": tracer.plan_ms(df),
        "execute.jobs": ex["jobs"],
        "execute.stages": ex["stages"],
        "execute.tasks": ex["tasks"],
        "execute.run_ms": ex["run_ms"],
        "execute.cpu_ms": ex["cpu_ms"],
        "execute.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "execute.input_bytes": ex["input_bytes"],
        "execute.wall_ms": wall_s * 1000.0,
        "transfer.ms": collect_s * 1000.0 - co["span_ms"],
        "result.rows": len(rows),
    }
    for name, value in layer.items():
        tracer.add(name, value)
    tracer.count_op("query")
    if tracer.active:
        tracer.detail.setdefault(label.partition(":")[0], []).append(layer)
    return df.columns, rows, build_s + wall_s + collect_s


def run(ctx: Context) -> Outcome:
    golden = load_golden()
    sf_dir = datagen.ensure_dataset(ctx.data_root, SF)
    order_rng = ctx.rng("order")

    t0 = time.perf_counter()
    from ser_etl_spark.registry import all_queries

    registry = all_queries()
    spark = start_spark(ctx, "perfbench-query_mix")
    tracer = None
    op = _plain_op
    if ctx.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        op = _traced_op

    attempted = failed = 0
    problems: list[str] = []
    inject = ctx.inject_fault

    def one(i: int, name: str) -> float:
        nonlocal attempted, failed, inject
        cols, rows, secs = op(
            spark, registry[name].builder, sf_dir, tracer, f"{name}:{i}"
        )
        rows = [tuple(r) for r in rows]
        if inject:
            rows.append(tuple(None for _ in cols))
            inject = False
        attempted += 1
        if digest(cols, rows) != golden[name]:
            failed += 1
            problems.append(f"{name}: result digest differs from the oracle's")
        return secs

    def shuffled() -> list[str]:
        names = list(QUERIES)
        order_rng.shuffle(names)
        return names

    cold: dict[str, float] = {}
    i = 0
    for name in shuffled():  # cold pass: set-up
        cold[name] = one(i, name)
        i += 1
    for _ in range(WARMUP_PASSES):
        for name in shuffled():
            one(i, name)
            i += 1
    setup_s = time.perf_counter() - t0

    if tracer is not None:
        tracer.active = True
    ops: list[tuple[str, float]] = []
    passes: list[float] = []
    start = time.perf_counter()
    deadline = start + ctx.seconds
    while not passes or time.perf_counter() < deadline:  # whole passes only
        pass_s = 0.0
        for name in shuffled():
            secs = one(i, name)
            i += 1
            ops.append((name, secs))
            pass_s += secs
        passes.append(pass_s)
    measured_s = time.perf_counter() - start

    out = Outcome(
        setup_s=setup_s,
        measured_s=measured_s,
        ops=ops,
        passes_s=passes,
        attempted=attempted,
        failed=failed,
        peak_rss_mb=peak_rss_mb(spark),
    )
    out.detail["problems"] = problems
    out.detail["sf"] = SF
    out.detail["cold_pass_s"] = cold
    if tracer is not None:
        tracer.active = False
        out.layers = tracer.metrics()
        out.detail["per_query"] = tracer.detail
    stop_spark(spark)
    return out

"""``etl_sync``: back-to-back sync cycles with one gateway reader.

The source is a private copy of the inputs whose ``events/`` directory
receives one seeded batch of new rows (1% of ``events``) before each
cycle; ``SyncManager.run_sync`` then runs with the default full-refresh
``SyncConfig`` over bench.py's table set and layouts. Meanwhile one
closed-loop reader sends one request per admitted gateway query class
(``gateway.request_mix``) plus ``SELECT MAX(ts) FROM events`` through a
catalog with ``ttl_s=0``, so every request sees the newest published
snapshot.

A "pass" of this workload is one sync cycle; request latencies are the
reader's. Set-up is the cold cycle, the reader's first pass and
``WARMUP_CYCLES`` more cycles. The store's history is then full, as in
steady operation: every later cycle's retention step deletes one version.
Freshness (batch appended -> first response that includes it) goes to the
detail file.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from checks import snapshot_problems
from common import Context, Outcome, peak_rss_mb, start_spark, stop_spark, timed
from gateway import (
    Client,
    addresses,
    build_gateway,
    check_responses,
    finish_trace,
    make_auth,
    request_mix,
    trace_gateway,
)

SF = 0.01
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)
BATCH_SPAN_US = 3600 * 10**6
#: Cycles after the cold one that still belong to set-up: the JIT keeps
#: shortening cycles for about three more (measured 5.9, 5.0, 4.2, then
#: ~3.9 s at sf0.01 on 4 cores), and a window that began there gave a
#: median that depended on how many of them it held.
WARMUP_CYCLES = 2
MAX_TS_SQL = "SELECT MAX(ts) AS max_ts FROM events"


def _layouts():
    from ser_etl_spark.etl.build import TableLayout

    return {
        "orders": TableLayout(unique_key="o_orderkey", sort_col="o_orderdate"),
        "customer": TableLayout(unique_key="c_custkey"),
        "events": TableLayout(unique_key="event_id", sort_col="ts"),
        "lineitem": TableLayout(unique_key=None, sort_col="l_shipdate"),
        "documents": TableLayout(unique_key="doc_id"),
    }


def make_source(sf_dir: str, src: str) -> dict[str, int]:
    """Copy the inputs with ``events`` as a directory of part files;
    return the source's row counts."""
    os.makedirs(os.path.join(src, "events"))
    for t in TABLES:
        target = os.path.join(src, "events", "part-00000.parquet") if t == "events" \
            else os.path.join(src, f"{t}.parquet")
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), target)
    return {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def fill_history(store: str, manifest: dict, count: int) -> None:
    """Copies of the first snapshot, named to sort before every real
    version, so retention deletes them first and every snapshot that
    served a request stays readable for the checks."""
    for i in range(count):
        shutil.copytree(
            manifest["snapshot_dir"],
            os.path.join(store, "history", f"snapshot_00000000_000000_{i:06d}"),
        )


def trace_etl(tracer, mgr) -> None:
    """Wrap the manager's public method and the ``etl.sync`` module-level
    calls; the build runs under its own job group."""
    import ser_etl_spark.etl.sync as sync_mod

    tracer.wrap(mgr, "changed_row_count", "etl.extract.ms")
    tracer.wrap(sync_mod, "publish_snapshot", "etl.publish.ms")
    tracer.wrap(sync_mod, "cleanup_old_versions", "etl.vacuum.ms")
    orig = sync_mod.build_snapshot
    builds = [0]

    def build_snapshot(*args, **kwargs):
        builds[0] += 1
        group = f"perfbench-etl-build-{builds[0]}"
        tracer.set_group(group)
        try:
            out, secs = timed(orig, *args, **kwargs)
        finally:
            tracer.set_group(None)
        tracer.add("etl.build.ms", secs * 1000.0)
        tracer.add("etl.build.jobs", tracer.group_stats(group)["jobs"])
        return out

    tracer.patch(sync_mod, "build_snapshot", build_snapshot)


def run(ctx: Context) -> Outcome:
    sf_dir = datagen.ensure_dataset(ctx.data_root, SF)
    src = os.path.join(ctx.run_dir, "src")
    expected = make_source(sf_dir, src)
    source_bytes = _parquet_bytes(src)
    store = os.path.join(ctx.run_dir, "store")
    auth, tokens = make_auth()
    batch_rng = np.random.default_rng(ctx.seed)
    batch_rows = expected["events"] // 100

    t0 = time.perf_counter()
    from ser_etl_spark.etl.extract import ParquetSource
    from ser_etl_spark.etl.sync import SyncConfig, SyncManager

    spark = start_spark(ctx, "perfbench-etl_sync")
    mgr = SyncManager(
        spark,
        ParquetSource(src),
        store,
        SyncConfig(tables=TABLES, ts_col="ts", layouts=_layouts()),
    )
    problems: list[str] = []
    cycles_attempted = cycles_failed = 0

    def cycle() -> float:
        nonlocal cycles_attempted, cycles_failed
        outcome, secs = timed(mgr.run_sync)
        cycles_attempted += 1
        if not outcome.success:
            cycles_failed += 1
            problems.append(f"sync cycle {cycles_attempted} failed")
        else:
            snapshots.append((outcome.manifest, dict(expected)))
        if tracer is not None and tracer.active:
            tracer.add("etl.changed_rows", sum(outcome.changed_rows.values()))
            tracer.count_op("cycle")
        return secs

    snapshots: list[tuple[dict, dict]] = []
    batches: list[tuple[float, object]] = []
    next_id = expected["events"]

    def append_batch() -> None:
        nonlocal next_id
        k = len(batches) + 1
        batch = datagen.events_table(
            batch_rng, next_id, batch_rows,
            datagen.EVENTS_END_US + (k - 1) * BATCH_SPAN_US, BATCH_SPAN_US,
        )
        pq.write_table(batch, os.path.join(src, "events", f"part-{k:05d}.parquet"))
        next_id += batch_rows
        expected["events"] += batch_rows
        batches.append((time.perf_counter(), batch.column("ts").to_pylist()[-1]))

    tracer = None
    if ctx.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        trace_etl(tracer, mgr)
    cycle()  # first sync/publish: set-up
    keep = mgr.config.keep_versions
    _, fill_s = timed(fill_history, store, snapshots[0][0], keep - 1)
    engine, app = build_gateway(spark, store, auth, ttl_s=0)
    if tracer is not None:
        trace_gateway(tracer, engine, app)
    rng = ctx.rng("reader")
    customers = expected["customer"]

    def mix():
        return request_mix(rng, customers) + [("max_ts", MAX_TS_SQL, "exact", 1000)]

    reader = Client(app, engine.catalog, rng, tokens, addresses(ctx, "reader"), mix, tracer)
    reader.one_pass(keep=False)  # first requests: set-up
    for _ in range(WARMUP_CYCLES):
        append_batch()
        cycle()
    warm_batches = len(batches)
    setup_s = time.perf_counter() - t0 - fill_s

    if tracer is not None:
        tracer.active = True
    stop = threading.Event()
    thread = threading.Thread(target=reader.loop, args=(stop.is_set,))
    start = time.perf_counter()
    deadline = start + ctx.seconds
    thread.start()
    cycles: list[float] = []
    # cycles that still delete a copy, not a checked snapshot
    max_cycles = keep - 1 - WARMUP_CYCLES
    try:
        while not cycles or (
            time.perf_counter() < deadline and len(cycles) < max_cycles
        ):
            append_batch()
            cycles.append(cycle())
    finally:
        stop.set()
        thread.join()
    measured_s = time.perf_counter() - start
    rss = peak_rss_mb(spark)
    layers = {}
    if tracer is not None:
        written = [
            _parquet_bytes(m["snapshot_dir"]) for m, _ in snapshots[1 + WARMUP_CYCLES:]
        ]
        tracer.add("etl.build.bytes_written", sum(written))
        tracer.add("etl.bytes_per_source_byte", sum(written) / source_bytes)
        layers = finish_trace(tracer)
    stop_spark(spark)

    for manifest, counts in snapshots:
        found = snapshot_problems(manifest, counts)
        cycles_failed += bool(found)
        problems += found
    manifests = {m["version"]: m for m, _ in snapshots}
    attempted, failed, response_problems = check_responses(
        reader.records, manifests, ctx.inject_fault
    )
    problems += response_problems
    out = Outcome(
        setup_s=setup_s,
        measured_s=measured_s,
        ops=[(r[0], r[4]) for r in reader.records],
        passes_s=cycles,
        attempted=attempted + cycles_attempted,
        failed=failed + cycles_failed,
        layers=layers,
        peak_rss_mb=rss,
    )
    out.detail["problems"] = problems
    out.detail["sf"] = SF
    out.detail["sync_cycle_s"] = cycles
    out.detail["freshness_s"] = _freshness(batches[warm_batches:], reader.records)
    if out.detail["freshness_s"]:
        out.detail["freshness_median_s"] = statistics.median(out.detail["freshness_s"])
    return out


def _freshness(batches, records) -> list[float]:
    """Seconds from each batch's append to the first ``MAX(ts)`` response
    that includes it (batches never observed are left out)."""
    import json

    seen = []
    for kind, _sql, _e, _c, _s, code, body, _v, t_done in records:
        if kind == "max_ts" and code == 200:
            value = json.loads(body)["data"][0]["max_ts"]
            seen.append((t_done, value))
    out = []
    for t_append, batch_max in batches:
        want = str(batch_max)
        hits = [t for t, v in seen if t > t_append and v is not None and v >= want]
        if hits:
            out.append(min(hits) - t_append)
    return out

"""Shared pieces of the benchmark: session lifecycle, statistics, results.

Every workload module exposes ``run(ctx) -> Outcome``; ``run.py`` builds
the :class:`Context` (isolated scratch dirs, seed, run length, trace flag)
and turns the outcome into the one-line JSON result.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

#: The tail is the latency with exactly this many samples beyond it.
TAIL_MIN_BEYOND = 10

#: Driver heap ceiling. The program's default (8g) leaves G1 to size the
#: heap by its GC-time goal, and the JVM's peak resident set then ranged
#: over 2.1-3.4 GB between runs of the same code. With a 2g ceiling the
#: heap still grows with the program's use (it is neither pinned nor
#: touched at start), and the peak moves with that use, not with G1's
#: expansion choices. Set through ``spark.driver.memory``, the program's
#: own knob (``get_spark`` honours it, else ``SPARK_DRIVER_MEMORY``).
DRIVER_MEMORY = "2g"


@dataclass
class Context:
    data_root: str
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    inject_fault: bool = False

    @property
    def tmp_dir(self) -> str:
        return os.path.join(self.run_dir, "tmp")

    def rng(self, stream: str) -> random.Random:
        """Independent seeded stream per purpose (order, params, keys)."""
        return random.Random(f"{self.seed}:{stream}")


@dataclass
class Outcome:
    """What a workload hands back: set-up seconds, per-op latencies, the
    wall time of each complete pass, op counts, per-layer metrics when
    traced, and a detail dict written next to the result."""

    setup_s: float
    measured_s: float
    #: (op kind, seconds) for every op in the measured window
    ops: list[tuple[str, float]] = field(default_factory=list)
    passes_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    #: peak resident set per process: {"python": MB, "jvm": MB}
    peak_rss_mb: dict[str, float] = field(default_factory=dict)


def master() -> str:
    return f"local[{os.cpu_count()}]"


def start_spark(ctx: Context, app: str):
    """SparkSession on ``local[nproc]`` with the program's own defaults
    except the driver heap ceiling, whose scratch space, JVM temp dir and
    warehouse all live in this run's private directory."""
    from ser_etl_spark.session import get_spark

    local_dir = os.path.join(ctx.run_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    return get_spark(
        app_name=app,
        master=master(),
        conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp_dir}",
            "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        },
    )


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set of this Python process and of the driver JVM."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return {"python": _vm_hwm_kb("self") / 1024.0, "jvm": jvm_kb / 1024.0}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def timed(fn, *args, **kwargs):
    """``(result, seconds)`` of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(percentile, value, n)``: the highest percentile with at least
    TAIL_MIN_BEYOND samples beyond it, i.e. the sample with exactly that
    many above it (the median below 2 * TAIL_MIN_BEYOND samples). Its rank
    moves with the sample count, so the figure does not jump between fixed
    percentiles as the count drifts across a threshold."""
    vals = sorted(values)
    n = len(vals)
    if n < 2 * TAIL_MIN_BEYOND:
        return 50.0, statistics.median(vals), n
    rank = n - TAIL_MIN_BEYOND
    return 100.0 * rank / n, vals[rank - 1], n


def end_to_end(out: Outcome) -> dict[str, float]:
    """The end-to-end metrics every workload reports (see README.md)."""
    lat = [s for _, s in out.ops]
    by_kind: dict[str, list[float]] = {}
    for kind, s in out.ops:
        by_kind.setdefault(kind, []).append(s)
    medians = [statistics.median(v) for v in by_kind.values()]
    pct, tail_s, n = tail(lat)
    out.detail["request_tail"] = {"percentile": pct, "samples": n}
    out.detail["passes_s"] = out.passes_s
    out.detail["op_median_s"] = {k: statistics.median(v) for k, v in by_kind.items()}
    out.detail["ops_s"] = out.ops
    out.detail["peak_rss_mb"] = out.peak_rss_mb
    return {
        "setup_s": out.setup_s,
        "peak_rss_mb": sum(out.peak_rss_mb.values()),
        "pass_s": statistics.median(out.passes_s),
        "query_geomean_s": math.exp(
            sum(math.log(m) for m in medians) / len(medians)
        ),
        "requests_per_s": len(lat) / out.measured_s,
        "request_p50_ms": statistics.median(lat) * 1000.0,
        "request_tail_ms": tail_s * 1000.0,
    }


UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
    "query_geomean_s": "s",
    "requests_per_s": "1/s",
    "request_p50_ms": "ms",
    "request_tail_ms": "ms",
}

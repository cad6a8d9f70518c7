"""The sync cycle (reference A16-A17): extract -> build -> publish -> vacuum.

Reimplements ``run_sync`` (``/root/reference/etl-service/src/sync.py:123-170``):
per configured table, detect changed rows since the last watermark and
advance it, then — matching the reference's current full-refresh semantics
(sync.py:141-147) — rebuild the whole snapshot from a full extraction and
publish it atomically. ``SyncConfig(incremental=True)`` upgrades keyed
tables to the watermark-merge path the reference declares but never
implements — and (r8) extends the same delta-cost discipline to the
derived artifacts: on a pure-append cycle the ANN index / MinHash band
table is hardlink-carried from the prior snapshot and upserted with just
the delta (``ArtifactCarry``) instead of re-derived from the full
corpus, which a 60 s cadence could never afford at 100 TB.

Errors are caught per cycle and reported as ``False`` — the next tick
retries from scratch; partial failures never publish (snapshot isolation
via manifest repoint).
"""

from __future__ import annotations

import logging
import os
import tempfile
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ser_etl_spark.etl.build import ArtifactCarry, TableLayout, build_snapshot
from ser_etl_spark.etl.extract import extract_table, max_updated_at
from ser_etl_spark.etl.publish import cleanup_old_versions, publish_snapshot
from ser_etl_spark.etl.state import WatermarkStore

log = logging.getLogger(__name__)


@dataclass
class SyncConfig:
    tables: tuple[str, ...]
    ts_col: str = "updated_at"
    keep_versions: int = 24
    layouts: dict[str, TableLayout] = field(default_factory=dict)
    views: dict[str, str] | None = None
    #: When True, tables with a ``unique_key`` layout are built by merging
    #: the changed slice (since the watermark) into the previous published
    #: snapshot instead of full re-extraction — the A17 upgrade path the
    #: reference declares but never implements. Tables without a key (or
    #: on the first cycle, with no prior snapshot) fall back to full
    #: refresh automatically.
    incremental: bool = False


@dataclass
class SyncOutcome:
    success: bool
    changed_rows: dict[str, int] = field(default_factory=dict)
    manifest: dict | None = None
    duration_s: float = 0.0
    #: table -> DriftReport for tables whose source schema drifted from
    #: the prior snapshot this cycle (those tables were full-refreshed).
    drift: dict = field(default_factory=dict)


class SyncManager:
    """Drives one sync cycle; scheduling lives in
    :mod:`ser_etl_spark.streaming.scheduler`.

    Each successful cycle publishes a manifest (``SyncOutcome.manifest``)
    with the snapshot's ``version``, ``snapshot_dir``, ``tables`` (row
    counts), ``views`` (SQL definitions) and ``schemas`` (each table's
    written file schema as ``StructType`` JSON, partition columns left
    out), so the gateway swaps to the new snapshot without running a
    schema-inference job per table."""

    def __init__(
        self,
        spark: SparkSession,
        source,
        store_root: str,
        config: SyncConfig,
        state: WatermarkStore | None = None,
    ) -> None:
        self.spark = spark
        self.source = source
        self.store_root = store_root
        self.config = config
        self.state = state or WatermarkStore(
            os.path.join(store_root, "sync_state.json")
        )

    def changed_row_count(self, table: str) -> int:
        """A2+A4: count rows newer than the watermark and advance it
        (reference sync_table, sync.py:39-56)."""
        since = self.state.get(table)
        df = extract_table(
            self.spark, self.source, table, since=since, ts_col=self.config.ts_col
        )
        n = df.count()
        if n:
            self.state.advance(table, max_updated_at(df, self.config.ts_col))
        return n

    def _previous_snapshot_dir(self) -> str | None:
        """Snapshot dir the current manifest points at (None if never
        published) — resolved through the manifest only, like readers."""
        import json

        try:
            with open(os.path.join(self.store_root, "current", "manifest.json")) as f:
                return json.load(f).get("snapshot_dir")
        except (OSError, ValueError):
            return None

    def _build_frame(self, table: str, since, prev_dir: str | None):
        """One table's next-snapshot content: incremental merge when
        possible (prior snapshot + watermark + unique key), else full.

        Returns ``(frame, drift_or_none, carry_or_none)``: when the
        source schema has drifted from the prior snapshot (columns
        added/removed/retyped), merging would silently misalign, so the
        table is full-refreshed under the NEW schema and the drift is
        surfaced in the outcome. ``carry`` is the delta-upsert input
        for the table's derived artifacts (r8 directive #2): produced
        only on the merge path, only for layouts that declare an
        artifact, and only when the delta is PURE-APPEND — a delta
        that updates existing keys would leave stale rows in the
        append-only artifact, so those cycles re-derive it fully. The
        append-ness check is one broadcast semi-join of the delta
        against the prior table's key column (a pruned single-column
        scan — not a data read of the corpus).
        """
        layout = self.config.layouts.get(table)
        key = layout.unique_key if layout else None
        if not (self.config.incremental and prev_dir and key and since):
            return extract_table(self.spark, self.source, table), None, None
        from ser_etl_spark.etl.merge import merge_incremental
        from ser_etl_spark.etl.quality import detect_schema_drift
        from ser_etl_spark.sources.parquet import load_table

        prev = load_table(self.spark, prev_dir, table)
        if self.config.ts_col not in prev.columns:
            return extract_table(self.spark, self.source, table), None, None
        delta = extract_table(
            self.spark, self.source, table, since=since, ts_col=self.config.ts_col
        )
        report = detect_schema_drift(prev.schema, delta.schema)
        if report.has_drift:
            log.warning(
                "schema drift on %s (added=%s removed=%s changed=%s); "
                "full-refreshing under the new schema",
                table, report.added, report.removed, report.changed,
            )
            return extract_table(self.spark, self.source, table), report, None
        merged = merge_incremental(prev, delta, key, self.config.ts_col)
        carry = None
        if layout is not None and (
            layout.ann_index or layout.minhash_bands or layout.text_postings
        ):
            from pyspark.sql import functions as F

            n_delta = delta.count()
            n_updates = (
                delta.join(
                    prev.select(F.col(key)), key, "left_semi"
                ).count()
                if n_delta
                else 0
            )
            if n_updates == 0:
                carry = ArtifactCarry(
                    prev_snapshot_dir=prev_dir,
                    delta=delta,
                    delta_rows=n_delta,
                )
            else:
                log.info(
                    "%s: %d of %d delta rows update existing keys; "
                    "re-deriving artifacts fully this cycle",
                    table, n_updates, n_delta,
                )
        return merged, None, carry

    def run_sync(self) -> SyncOutcome:
        start = time.time()
        try:
            # capture pre-cycle watermarks BEFORE counting advances them
            since_map = {t: self.state.get(t) for t in self.config.tables}
            prev_dir = self._previous_snapshot_dir()
            changed = {t: self.changed_row_count(t) for t in self.config.tables}
            # A17 semantics: snapshot isolation either way — full refresh
            # by default, watermark-merge when incremental is enabled.
            frames, drifts, carries = {}, {}, {}
            for t in self.config.tables:
                frames[t], drift, c = self._build_frame(
                    t, since_map[t], prev_dir
                )
                if drift is not None:
                    drifts[t] = drift
                if c is not None:
                    carries[t] = c
            build_dir = tempfile.mkdtemp(prefix="snapshot_build_")
            report = build_snapshot(
                frames,
                build_dir,
                layouts=self.config.layouts,
                views=self.config.views,
                carry=carries,
            )
            manifest = publish_snapshot(
                build_dir,
                self.store_root,
                tables=report.tables,
                views=report.views,
                schemas=report.schemas,
            )
            cleanup_old_versions(self.store_root, self.config.keep_versions)
            return SyncOutcome(
                success=True,
                changed_rows=changed,
                manifest=manifest,
                duration_s=time.time() - start,
                drift=drifts,
            )
        except Exception:
            log.exception("sync cycle failed")
            return SyncOutcome(success=False, duration_s=time.time() - start)

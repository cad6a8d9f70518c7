"""Parquet snapshot source.

The reference's serving side reads one immutable snapshot file from object
storage (``/root/reference/api-service/src/query_engine.py:78-96``). The
Spark-native equivalent is a snapshot *directory* of Parquet tables read
directly — columnar, splittable, predicate-pushdown-friendly — with no
download step: at cluster scale the path is simply ``s3a://...`` instead of
a local directory, and every executor reads its own split.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: The test fixture tables (TESTDATA.md). The engine itself is
#: schema-agnostic — like the reference, whatever the source provides
#: becomes the table's schema (``etl-service/src/database.py:87``).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    """Path of one table inside a snapshot directory.

    Accepts both layouts: ``<dir>/<name>.parquet`` (single file, the test
    fixtures) and ``<dir>/<name>/`` (directory of part files, what
    ``df.write.parquet`` produces).
    """
    file_style = os.path.join(sf_dir, f"{name}.parquet")
    dir_style = os.path.join(sf_dir, name)
    # Prefer the explicit .parquet path; fall back to directory layout.
    if "://" in sf_dir:  # object store: cannot stat cheaply, use file style
        return file_style
    return file_style if os.path.exists(file_style) else dir_style


#: (target file, size, mtime_ns) -> ns columns. ``load_table`` runs for
#: every table of every query build, and the footer read here was a
#: measurable slice of sub-second queries' driver time; the stat-keyed
#: memo makes repeat builds free while a rewrite (new mtime/size) still
#: re-probes.
_NS_COLS_CACHE: dict[tuple[str, int, int], list[str]] = {}


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) in the parquet footer.

    Spark's TimestampType is microsecond-precision and Spark 4 rejects
    nanosecond parquet columns outright (PARQUET_TYPE_ILLEGAL), while DuckDB
    silently truncates ns->us. To keep both engines on identical values we
    read ns columns as raw int64 and truncate to micros ourselves.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        target = path
        if not path.endswith(".parquet") and os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.endswith(".parquet")]
            if not parts:
                return []
            target = os.path.join(path, sorted(parts)[0])
        st = os.stat(target)
        key = (target, st.st_size, st.st_mtime_ns)
        hit = _NS_COLS_CACHE.get(key)
        if hit is not None:
            return hit
        schema = pq.read_schema(target)
        candidates = [
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]
        if candidates:
            # INT96 timestamps (Spark's legacy LTZ encoding) also surface
            # as timestamp[ns] in the Arrow schema, but Spark reads them
            # natively — only true INT64 TIMESTAMP(NANOS) columns need the
            # raw-long conversion (misflagging INT96 would feed `div 1000`
            # a TIMESTAMP and fail the read; found by the r8
            # artifact-carry sync test). The physical-type probe is only
            # paid when a ns-unit column actually exists.
            md = pq.ParquetFile(target).metadata
            phys = {
                md.schema.column(i).name: md.schema.column(i).physical_type
                for i in range(md.num_columns)
            }
            candidates = [
                n for n in candidates if phys.get(n) != "INT96"
            ]
        _NS_COLS_CACHE[key] = candidates
        return candidates
    except Exception:
        return []


#: (session id, path, listing fingerprint) -> (owning session,
#: DataFrame). Each ``spark.read.parquet`` costs ~90 ms of JVM driver
#: time (file listing + footer schema inference) and a multi-table query
#: build pays it 5-7 times — the dominant driver cost of every
#: sub-second query. DataFrames are immutable and lazily executed, so
#: reuse is safe; staleness is handled by keying on the part-file
#: listing fingerprint (any rewrite, append, or overwrite changes
#: size/mtime and misses the cache). The session id in the key keeps
#: two live sessions reading the same table from evicting each other
#: (r9 ADVICE: the old shared key was pure thrash), and the stored
#: session reference still identity-guards against id() reuse. Entries
#: whose session has stopped are dropped when encountered so a stopped
#: session's JVM references aren't pinned. Bounded LRU.
_DF_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}
_DF_CACHE_MAX = 64


def _session_stopped(s: SparkSession) -> bool:
    try:
        return s.sparkContext._jsc is None
    except Exception:
        return True


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Read one snapshot table as a DataFrame (lazy; columnar scan).

    Nanosecond timestamp columns are normalized to Spark's native
    microsecond TimestampType (truncation, matching DuckDB's cast).

    ``schema`` is the table's file schema as published in a snapshot
    manifest (``BuildReport.schemas``). When given, the read uses it and
    skips both Parquet's schema-inference job and the footer probe: a
    snapshot written by Spark holds no nanosecond columns. Partition
    columns are left out of it and still come from the directory names.
    """
    from ser_etl_spark.artifacts import source_fingerprint

    path = table_path(sf_dir, name)
    try:
        key = (id(spark), path, source_fingerprint(path))
    except OSError:
        key = None
    if key is not None:
        hit = _DF_CACHE.get(key)
        if hit is not None and hit[0] is spark:
            # true LRU: re-insert on hit so hot fixture tables outlive
            # one-shot tmp-dir reads under the size bound
            _DF_CACHE[key] = _DF_CACHE.pop(key)
            return hit[1]
    if schema is not None:
        ns_cols = []
        df = spark.read.schema(schema).parquet(path)
    else:
        ns_cols = _ns_timestamp_cols(path)
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    for c in ns_cols:
        # TIMESTAMP_NTZ, built arithmetically from the raw int64 so the
        # value is identical under any session timezone (parquet NTZ ms
        # columns also surface as timestamp_ntz — keeps the type system
        # consistent across tables).
        df = df.withColumn(
            c,
            F.expr(
                f"timestampadd(MICROSECOND, `{c}` div 1000, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if key is not None:
        if len(_DF_CACHE) >= _DF_CACHE_MAX:
            # evict dead sessions' entries first, oldest-live second
            dead = [k for k, v in _DF_CACHE.items() if _session_stopped(v[0])]
            for k in dead:
                _DF_CACHE.pop(k, None)
            if len(_DF_CACHE) >= _DF_CACHE_MAX:
                _DF_CACHE.pop(next(iter(_DF_CACHE)))
        _DF_CACHE[key] = (spark, df)
    return df


def spread_small_input(df: DataFrame, min_partitions: int = 16) -> DataFrame:
    """Raise map-stage parallelism when the scan under-partitions.

    A small input (one parquet file under ``maxPartitionBytes``) arrives
    as a single partition, serializing every expensive narrow
    transformation built on it — shingling, hashing, vector math — into
    one task. When the plan has fewer partitions than the cluster has
    slots, repartition up to ``defaultParallelism``; on a real multi-split
    input (the 100 TB case) this is a no-op, so well-partitioned data is
    never shuffled.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= min(target, min_partitions):
        return df
    return df.repartition(target)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    schemas: Mapping[str, dict] | None = None,
) -> dict[str, DataFrame]:
    """Register each snapshot table as a temp view (reference op A6).

    Mirrors ``conn.register(name, df)`` at
    ``/root/reference/etl-service/src/sync.py:81`` — exposing DataFrames to
    the SQL surface. Missing tables are skipped so partial snapshots load.
    ``schemas`` is a manifest's ``schemas`` entry (table -> ``StructType``
    JSON); tables it covers are read without schema inference.
    """
    schemas = schemas or {}
    out: dict[str, DataFrame] = {}
    for name in tables:
        try:
            recorded = schemas.get(name)
            df = load_table(
                spark,
                sf_dir,
                name,
                StructType.fromJson(recorded) if recorded else None,
            )
        except Exception:
            continue
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

"""Snapshot publish: versioned dirs, manifest repoint, retention.

The reference publishes by PUTing a single DB file to a fixed key (atomic
last-writer-wins), copying it into ``history/``, and writing a JSON
manifest (``/root/reference/etl-service/src/s3_uploader.py:27-94``). With
a directory-of-parquet snapshot there is no single-file PUT, so atomicity
moves to the *manifest*: each build lands in an immutable
``history/snapshot_<ts>/`` directory, and ``current/manifest.json`` is
atomically replaced to point at it. Readers resolve only through the
manifest (never by listing), so they see fully-written snapshots only —
the same isolation the reference gets from S3 object atomicity. Older
versions stay readable (time travel) until retention removes them (A15).

Object-store status: paths are plain strings, so an ``s3a://`` store
root composes with ``df.write.parquet`` in principle, but THIS SANDBOX
HAS NO OBJECT STORE — the S3 path is untested here. The manifest
replace below uses a same-filesystem ``os.replace`` for atomicity; on
S3 the equivalent is a single-key PUT of ``manifest.json`` (atomic
last-writer-wins, exactly the reference's mechanism), which a production
deployment must substitute. The isolation contract itself does NOT
depend on rename atomicity for snapshot dirs: readers resolve only
through the manifest, and ``tests/test_etl.py::TestObjectStoreContract``
proves it by replacing the move with a non-atomic file-by-file copy
(crashed mid-upload, crashed pre-PUT, and raced against readers).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import tempfile


def publish_snapshot(
    build_dir: str,
    store_root: str,
    tables: dict[str, int],
    views: dict[str, str] | None = None,
    version: str | None = None,
    schemas: dict[str, dict] | None = None,
) -> dict:
    """Move a built snapshot into the store and repoint the manifest.

    Returns the manifest written (reference A11-A13: upload + history copy
    + manifest; the version string uses the reference's
    ``%Y%m%d_%H%M%S`` convention, s3_uploader.py:63-66). Its keys:

    - ``version``, ``timestamp``: the snapshot's version string and
      publish time (UTC, ISO 8601);
    - ``snapshot_dir``: the immutable ``history/snapshot_<version>`` dir;
    - ``tables``: table -> row count;
    - ``views``: view name -> SQL definition, registered by readers;
    - ``schemas``: table -> file schema as ``StructType`` JSON (without
      directory-partition columns), from ``BuildReport.schemas``.
      Readers register views from it with no schema-inference job; a
      table missing here (or a manifest without the key) is inferred.
    """
    version = version or dt.datetime.now(dt.timezone.utc).strftime("%Y%m%d_%H%M%S_%f")
    history_dir = os.path.join(store_root, "history")
    os.makedirs(history_dir, exist_ok=True)
    snapshot_dir = os.path.join(history_dir, f"snapshot_{version}")
    # Move is atomic on a posix store; on an object store this is the
    # multipart upload of an immutable prefix nobody references yet.
    shutil.move(build_dir, snapshot_dir)

    manifest = {
        "version": version,
        "timestamp": dt.datetime.now(dt.timezone.utc).isoformat(),
        "snapshot_dir": snapshot_dir,
        "tables": tables,
        "views": views or {},
        "schemas": schemas or {},
    }
    current_dir = os.path.join(store_root, "current")
    os.makedirs(current_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=current_dir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=2)
        # Atomic repoint: readers see either the old or the new manifest.
        os.replace(tmp, os.path.join(current_dir, "manifest.json"))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return manifest


def list_versions(store_root: str) -> list[str]:
    """Snapshot dirs, newest first (by version-encoded timestamp)."""
    history_dir = os.path.join(store_root, "history")
    if not os.path.isdir(history_dir):
        return []
    dirs = [d for d in os.listdir(history_dir) if d.startswith("snapshot_")]
    return sorted(dirs, reverse=True)


def cleanup_old_versions(store_root: str, keep_count: int = 24) -> int:
    """A15: retain the newest ``keep_count`` snapshots, delete the rest
    (reference default 24, s3_uploader.py:108-137). Never deletes the
    snapshot the current manifest points at."""
    versions = list_versions(store_root)
    current = _current_snapshot_basename(store_root)
    deleted = 0
    for name in versions[keep_count:]:
        if name == current:
            continue
        shutil.rmtree(os.path.join(store_root, "history", name), ignore_errors=True)
        deleted += 1
    return deleted


def _current_snapshot_basename(store_root: str) -> str | None:
    try:
        with open(os.path.join(store_root, "current", "manifest.json")) as f:
            return os.path.basename(json.load(f)["snapshot_dir"])
    except (OSError, KeyError, json.JSONDecodeError):
        return None

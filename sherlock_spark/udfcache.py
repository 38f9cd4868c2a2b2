"""Content-addressed caching for UDF instances and stage DataFrames.

Two driver-side registries that make repeated query constructions
plan-stable and re-execution-free within a session:

``config_hash`` + ``memoized_udf``
    A pandas-UDF column function built twice from the same configuration
    used to get a fresh ``uuid4`` cache key and a fresh broadcast per
    construction, so the analyzed plans of two invocations of the same
    query never matched and nothing persisted could be reused (round-2
    VERDICT finding). UDF instances are now memoized per (session,
    content-hash) — the same configuration returns the *same* UDF
    object, so equal queries build equal plans, and the worker-side
    model cache key is the content hash (one model per worker per
    configuration, not per construction).

``stage``
    A DataFrame built once per (session, key) and reused by every later
    construction that asks for the same key: repeated queries over the
    extract->link->canonicalize DAG read materialized stage output
    instead of re-running the model UDFs. By default the stage is
    materialized with ``localCheckpoint`` and lives as long as the
    session.

Keys include ``applicationId`` so a stopped/restarted session never
serves broadcasts or checkpointed RDDs from a dead context.

Cross-process warm resume: when ``SHERLOCK_STAGE_DIR`` is set, ``stage``
materializes through ``CheckpointManager`` (``plans/checkpoint.py``)
instead, as stage ``config_hash(key)`` under
``<SHERLOCK_STAGE_DIR>/<code_digest>``, and a fresh JVM resumes from
that table instead of re-materializing it. ``code_digest`` is a
stat-based digest of every ``.py`` file in the package: ANY source edit
changes it, so a persisted stage table can never outlive the code that
built it (stale entries become unreachable and are swept after
``STAGE_TTL_DAYS``). Unset (the default, and the posture of the
correctness gate), behavior is exactly the session-local
``localCheckpoint`` path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_UDF_INSTANCES: dict[tuple, object] = {}
_STAGE_CACHE: dict[tuple, DataFrame] = {}

# durable stage entries untouched this long are swept
STAGE_TTL_DAYS = 7


def config_hash(*parts) -> str:
    """Stable md5 over arbitrarily nested dict/list/tuple/scalar config.

    Dicts are order-normalized (sorted by key repr — keys may be tuples,
    e.g. RC rule maps keyed by (subj_type, obj_type)).
    """

    def norm(value):
        if isinstance(value, dict):
            return sorted((repr(k), norm(v)) for k, v in value.items())
        if isinstance(value, (list, tuple)):
            return [norm(v) for v in value]
        return value

    return hashlib.md5(
        repr([norm(part) for part in parts]).encode("utf-8")
    ).hexdigest()


def _evict_dead_sessions(registry: dict, app_id: str) -> None:
    """Drop entries from stopped sessions. Sessions in one driver are
    serial (getOrCreate reuses the live one), so any entry under a
    different applicationId references a dead context — holding its
    UDF closures/broadcasts/checkpointed RDDs would leak driver memory
    in long-lived processes that restart sessions."""
    dead = [key for key in registry if key[0] != app_id]
    for key in dead:
        del registry[key]


def memoized_udf(spark: SparkSession, key: str, build: Callable):
    """Return the session's UDF instance for ``key``, building once."""
    app_id = spark.sparkContext.applicationId
    _evict_dead_sessions(_UDF_INSTANCES, app_id)
    full_key = (app_id, key)
    instance = _UDF_INSTANCES.get(full_key)
    if instance is None:
        instance = build()
        _UDF_INSTANCES[full_key] = instance
    return instance


def stage(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Materialize ``build()`` once per (session, key) and reuse it.

    The materialization cuts lineage, so downstream plans over the
    stage are small and later invocations never re-run the stage's
    UDFs.
    """
    app_id = spark.sparkContext.applicationId
    _evict_dead_sessions(_STAGE_CACHE, app_id)
    full_key = (app_id, key)
    df = _STAGE_CACHE.get(full_key)
    if df is None:
        stage_dir = os.environ.get("SHERLOCK_STAGE_DIR")
        if stage_dir:
            df = _stage_persistent(spark, stage_dir, key, build)
        else:
            df = build().localCheckpoint(eager=True)
        _STAGE_CACHE[full_key] = df
    return df


_CODE_DIGEST: str | None = None
_SWEPT_DIRS: set[str] = set()


def _code_digest() -> str:
    """Stat-based digest (relpath, size, mtime_ns) of every .py file in
    the package — the cache-key salt that makes persisted stage tables
    code-versioned. Any source edit (even a re-save) changes it, which
    errs on the safe side: a false rebuild costs one materialization, a
    stale hit would cost correctness."""
    global _CODE_DIGEST
    if _CODE_DIGEST is None:
        root = os.path.dirname(os.path.abspath(__file__))
        hasher = hashlib.md5()
        for dirpath, _dirs, files in sorted(os.walk(root)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(dirpath, name)
                stat = os.stat(full)
                rel = os.path.relpath(full, root)
                hasher.update(
                    f"{rel}|{stat.st_size}|{stat.st_mtime_ns}\n".encode()
                )
        _CODE_DIGEST = hasher.hexdigest()
    return _CODE_DIGEST


def _sweep_stale(stage_dir: str) -> None:
    """Once per process per dir: drop entries untouched for
    ``STAGE_TTL_DAYS`` — entries orphaned by code edits are unreachable
    by key, this bounds the disk they hold."""
    if stage_dir in _SWEPT_DIRS:
        return
    _SWEPT_DIRS.add(stage_dir)
    cutoff = time.time() - STAGE_TTL_DAYS * 86400
    try:
        entries = os.listdir(stage_dir)
    except FileNotFoundError:
        return
    for name in entries:
        full = os.path.join(stage_dir, name)
        try:
            if os.path.getmtime(full) < cutoff:
                shutil.rmtree(full, ignore_errors=True)
        except OSError:
            continue


def _stage_persistent(
    spark: SparkSession, stage_dir: str, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Disk-backed stage materialization: ``CheckpointManager`` stage
    ``config_hash(key)`` under ``<stage_dir>/<code_digest>``. The table
    read IS the lineage cut (no localCheckpoint needed), and unlike
    checkpointed RDDs it survives the JVM. Falls back to the
    session-local path for the rare stage whose schema parquet can't
    hold."""
    # imported here: the plans package imports the operators, which
    # import this module
    from sherlock_spark.plans.checkpoint import CheckpointManager

    _sweep_stale(stage_dir)
    manager = CheckpointManager(spark, os.path.join(stage_dir, _code_digest()))
    try:
        return manager.run_stage(config_hash(key), build)
    except AnalysisException:
        return build().localCheckpoint(eager=True)


def clear_session_caches() -> None:
    """Drop all registries (test isolation helper)."""
    _UDF_INSTANCES.clear()
    _STAGE_CACHE.clear()

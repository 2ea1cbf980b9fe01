"""Shared intermediates: the engine's one memo of derived state.

Several queries consume the same expensive derived result — the
converged near-dup cluster labels, the curated survivor set, the
semantic cell assignment, the corpus row count, the on-disk IVF
stores. Each is produced once per application and fixture and handed
to every later consumer through one of two entry points:

* ``shared(spark, name, sf_dir, tables, build)`` — ``build()`` returns
  a materialized frame (an eager ``localCheckpoint``) or a scalar;
* ``shared_dir(spark, name, sf_dir, tables, build)`` — ``build(path)``
  fills a scratch directory; the path is returned.

One rule set for all of them (the reference controller's FileTable:
one table, one owner):

* **Key** — ``(applicationId, name, sf_dir, table_fingerprint of each
  input table)``, so a rewritten fixture can never be served a stale
  result and a new SparkContext never sees a dead one's blocks.
* **Probe** — a bounded check before every reuse: ``limit(1).count()``
  on a frame (one block read; lost localCheckpoint blocks fail it),
  ``os.path.isdir`` on a directory. Any failure recomputes; a memo is
  an optimization, never a correctness dependency.
* **Eviction** — entries live for the application, one per (name,
  sf_dir): a new fingerprint replaces the old entry, and entries of a
  dead application are dropped on the next call.
* **Lock** — one lock per key, held only while that key's producer
  runs. Two ``parallel_legs`` threads that miss the same cold key build
  it once; legs building different keys still overlap, and a producer
  that consumes another key (``sem_assignment`` -> corpus count,
  ``_curated_set`` -> ``cluster_labels``) cannot deadlock.

Deliberately NOT routed through here: ``views._VIEW_CACHE`` (``.cache()``
-backed, so lost blocks recompute from lineage, session-lived),
``tables._EVENTS_TS_UNIT`` (a parquet footer sniff independent of the
Spark application) and ``liveness._STREAM_SESSIONS`` / ``_PREV_SINKS``
(they hold sessions and sink names, not intermediates).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .tables import table_fingerprint

# (name, sf_dir) -> (key, value): one live entry per fixture.
_ENTRIES: dict[tuple[str, str], tuple[tuple, Any]] = {}
# key -> the lock its producer runs under.
_LOCKS: dict[tuple, threading.Lock] = {}
# Guards the two dicts above; never held while a producer or probe runs.
_TABLE_LOCK = threading.Lock()


def _key(spark: SparkSession, name: str, sf_dir: str, tables: Sequence[str]):
    fps = tuple(table_fingerprint(sf_dir, t) for t in tables)
    return (spark.sparkContext.applicationId, name, sf_dir, fps)


def _get(key: tuple, build: Callable[[], Any], alive: Callable[[Any], bool]):
    app, name, sf_dir, _fps = key
    with _TABLE_LOCK:
        for slot in [s for s, (k, _v) in _ENTRIES.items() if k[0] != app]:
            del _ENTRIES[slot]
        for k in [k for k in _LOCKS if k[0] != app]:
            del _LOCKS[k]
        lock = _LOCKS.setdefault(key, threading.Lock())
    with lock:
        hit = _ENTRIES.get((name, sf_dir))
        if hit is not None and hit[0] == key:
            try:
                if alive(hit[1]):
                    return hit[1]
            except Exception:  # noqa: BLE001 — any probe failure recomputes
                pass
        value = build()
        with _TABLE_LOCK:
            _ENTRIES[(name, sf_dir)] = (key, value)
        return value


def _frame_alive(value: Any) -> bool:
    if isinstance(value, DataFrame):
        value.limit(1).count()
    return True


def shared(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[], Any],
) -> Any:
    """The application's copy of intermediate ``name`` over the
    fixture tables ``tables`` of ``sf_dir``; ``build()`` produces it on
    a miss. A frame must be materialized (eager ``localCheckpoint``):
    the probe reads one of its blocks."""
    return _get(_key(spark, name, sf_dir, tables), build, _frame_alive)


def shared_dir(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[str], None],
) -> str:
    """The application's scratch directory for intermediate ``name``;
    on a miss the directory is removed and ``build(path)`` fills it.
    The path is unique per (application, sf_dir, fingerprints), so
    other processes never share it, and it is reaped at interpreter
    exit (at deployment it would be a managed table location)."""
    key = _key(spark, name, sf_dir, tables)
    digest = hashlib.md5(repr(key[2:]).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{name}_{key[0]}_{digest}")

    def produce() -> str:
        shutil.rmtree(path, True)  # a crashed or stale build: start clean
        atexit.register(shutil.rmtree, path, True)
        build(path)
        return path

    return _get(key, produce, os.path.isdir)

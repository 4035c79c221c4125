"""Registered ``persist()`` lifecycle shared by the engine's
multi-consumer cache points (the dedup pair generators' posting /
signature / band blocks, the search family's matched-postings probe).

The cached entries are part of the RETURNED DataFrame's lineage, so the
operator that registers them can never unpersist them itself — but in a
long-lived serving session the dead caches accumulate (correctness
survives via LRU eviction; executor memory does not). This registry is
the release mechanism, with per-session scoping and a lock over
mutation (round-14 advice), plus a round-15-advice hardening of the
weak-keying itself:

- **per-SparkSession scoping**: entries key on the OWNING SparkSession,
  so releasing one pipeline's caches can never unpersist a concurrent
  session's still-feeding blocks (the cloned-session isolation the
  point-query serving path already relies on).
- **the weak keying actually collects**: a naive
  ``WeakKeyDictionary[SparkSession, list[DataFrame]]`` never frees
  anything, because each stored ``DataFrame`` holds a strong reference
  to its session (``DataFrame._session``) — the value pins the weak
  key. This registry instead keys on ``weakref.ref(session)`` with a
  collection callback, and stores ``(weakref.ref(df), jdf)`` pairs: the
  py4j ``jdf`` handle references only the gateway, not the Python
  session, so a dropped ``newSession()`` clone is genuinely
  collectible. The callback then calls ``jdf.unpersist(False)`` on
  every handle it was still tracking, so a dropped session frees its
  executor blocks, not just its Python-side bookkeeping.
- **a lock guards registry mutation**: ``DataFrame.unpersist`` is
  JVM-side thread-safe; the Python ``list.append``/``pop`` around it
  was not.

Caveat outside this module's control: PySpark's ``_monkey_patch_RDD``
pins the MOST RECENTLY CREATED session via the ``RDD.toDF`` closure (a
class attribute) until the next session displaces it — so the last
clone a process creates is collected only after another session
exists. The registry adds no pin of its own beyond that
(test_round16.py proves collection once the patch is displaced).

Lifecycle contract (unchanged from the dedup-local registry): one-shot
pipelines let session teardown collect the blocks; serving sessions
either call the family release between queries or wrap the terminal
DataFrame in ``dedup.materialize_release`` — never mid-query (a
registered cache may still be feeding an unmaterialized plan). Within
ONE SparkSession a family release drops every cache of that family,
including blocks a concurrently-building query in another thread just
registered — concurrent pipelines that must not interfere get their own
``spark.newSession()`` clones, which this registry keeps separate.
"""

from __future__ import annotations

import threading
import weakref
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
# weakref.ref(session) -> family -> [(weakref.ref(df), jdf handle)].
# The jdf is the unpersist handle; it survives the Python DataFrame and
# does NOT pin the session (py4j objects reference only the gateway).
# On environments without ``_jdf`` (e.g. Spark Connect) the DataFrame
# itself is stored in the handle slot — a documented strong-ref compat
# path that degrades to the old behavior there.
_REGISTRY: dict[weakref.ref, dict[str, list[tuple[weakref.ref, Any]]]] = {}


def _on_session_collected(ref: weakref.ref) -> None:
    """Weakref callback: the owning SparkSession was garbage-collected.

    Purge the bookkeeping AND best-effort unpersist the JVM blocks —
    dropping the Python session object does not stop the JVM session,
    so without this the blocks would outlive every Python handle."""
    with _LOCK:
        fams = _REGISTRY.pop(ref, None)
    if not fams:
        return
    for entries in fams.values():
        for _df_ref, handle in entries:
            try:
                if isinstance(handle, DataFrame):
                    handle.unpersist()
                else:
                    handle.unpersist(False)
            except Exception:
                # JVM/session already gone — blocks died with it.
                pass


def register_cache(df: DataFrame, family: str) -> DataFrame:
    """Persist ``df`` and record it under (owning session, ``family``)
    so a later :func:`release_caches` can free the block. A plan that
    is already cached (say, by an earlier build of the same query) is
    not persisted again; its handle is still recorded."""
    out = df.persist() if df.storageLevel == StorageLevel.NONE else df
    sess = out.sparkSession
    jdf = getattr(out, "_jdf", None)
    handle: Any = out if jdf is None else jdf
    with _LOCK:
        key = None
        for r in _REGISTRY:
            if r() is sess:
                key = r
                break
        if key is None:
            key = weakref.ref(sess, _on_session_collected)
            hash(key)  # cache the hash so the dead-key pop in the
            # collection callback can still find the dict slot
            _REGISTRY[key] = {}
        _REGISTRY[key].setdefault(family, []).append(
            (weakref.ref(out), handle)
        )
    return out


def live_caches(
    spark: SparkSession | None = None, family: str | None = None
) -> list[DataFrame]:
    """Snapshot of the registered caches matching the filters —
    diagnostics/tests only; the list is a copy, mutating it releases
    nothing. Entries whose Python DataFrame was itself collected (the
    normal case for a pipeline's interior cache points — only the JVM
    lineage outlives the builder) are re-wrapped from the retained JVM
    handle, so the snapshot always shows every tracked block."""
    with _LOCK:
        out: list[DataFrame] = []
        for sess_ref, fams in _REGISTRY.items():
            sess = sess_ref()
            if sess is None or (spark is not None and sess is not spark):
                continue
            for fam, entries in fams.items():
                if family is not None and fam != family:
                    continue
                for df_ref, handle in entries:
                    df = df_ref()
                    if df is None:
                        df = (
                            handle
                            if isinstance(handle, DataFrame)
                            else DataFrame(handle, sess)
                        )
                    out.append(df)
        return out


def release_caches(
    spark: SparkSession | None = None, family: str | None = None
) -> int:
    """Unpersist every registered cache matching the filters; returns
    how many were freed. ``spark=None`` spans all sessions (the legacy
    single-session behavior), ``family=None`` all families. Async
    (non-blocking) — executors drop the blocks in the background. The
    unpersist calls run OUTSIDE the lock (they go to the JVM) so a slow
    release never blocks a concurrent register."""
    with _LOCK:
        victims: list[Any] = []
        for sess_ref in list(_REGISTRY):
            sess = sess_ref()
            if spark is not None and sess is not spark:
                continue
            fams = _REGISTRY[sess_ref]
            for fam in list(fams):
                if family is not None and fam != family:
                    continue
                victims.extend(h for _r, h in fams.pop(fam))
            if not fams:
                del _REGISTRY[sess_ref]
    freed = 0
    for handle in victims:
        try:
            if isinstance(handle, DataFrame):
                handle.unpersist()
            else:
                handle.unpersist(False)
        except Exception:
            pass  # session torn down between snapshot and release
        freed += 1
    return freed

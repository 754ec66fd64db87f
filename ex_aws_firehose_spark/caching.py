"""Session fixtures: per-session memoization of expensive shared work.

Many queries start from the same costly intermediate — a persisted
DataFrame (the decoded record batch, a shingle frame, a trained index)
or a staged temp-dir table. ``@session_fixture`` builds each one once
per session and set of arguments and hands the same object to every
later caller.

Keys lead with ``applicationId`` (stable for a session's lifetime, never
recycled the way ``id()`` can be), followed by the function's bound
arguments with defaults applied, so positional, keyword and defaulted
spellings of one call share an entry. Exactly one SparkContext is live
per JVM, so an entry keyed by a different applicationId belongs to a
*stopped* session: its DataFrames are unusable and its temp dirs are
reclaimed at interpreter exit. Dropping those entries on lookup keeps
long-lived multi-session processes from accumulating dead ones.

Fixtures that stage files write under ``tracked_mkdtemp`` dirs, which
are removed when the interpreter exits.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import shutil
import tempfile
import threading

_TMP_DIRS: list[str] = []


def tracked_mkdtemp(prefix: str) -> str:
    """mkdtemp whose directory is removed at interpreter exit — a staged
    fixture would otherwise leak one dir per (session, sf)."""
    path = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.append(path)
    return path


@atexit.register
def _cleanup_tmp_dirs() -> None:
    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def session_fixture(fn):
    """Memoize ``fn(spark, *args)`` per (applicationId, bound args).

    A build that raises stores nothing, so the next call retries it.
    Builds run outside the lock (a fixture may call other fixtures);
    if two threads race, both get the first stored result.
    ``fn.cache_clear()`` drops every entry."""
    sig = inspect.signature(fn)
    entries: dict[tuple, object] = {}
    lock = threading.Lock()

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        app_id = spark.sparkContext.applicationId
        key = (app_id, *list(bound.arguments.items())[1:])
        with lock:
            for stale in [k for k in entries if k[0] != app_id]:
                del entries[stale]
            if key in entries:
                return entries[key]
        value = fn(spark, *args, **kwargs)
        with lock:
            return entries.setdefault(key, value)

    wrapper.cache_clear = entries.clear
    return wrapper

"""``@session_fixture`` semantics, on a stub session (no JVM), plus a
structure guard that keeps every per-session memo on the decorator."""

from __future__ import annotations

import re
from pathlib import Path
from types import SimpleNamespace

import pytest

from ex_aws_firehose_spark.caching import session_fixture

PACKAGE = Path(__file__).resolve().parent.parent / "ex_aws_firehose_spark"


def _stub(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counting_fixture():
    builds = []

    @session_fixture
    def fixture(spark, sf_dir, m=8, where=None):
        builds.append((sf_dir, m, where))
        return object()

    return fixture, builds


def test_call_spellings_share_one_build():
    fixture, builds = _counting_fixture()
    spark = _stub("app-1")
    first = fixture(spark, "sf")
    assert fixture(spark, "sf", 8) is first
    assert fixture(spark, "sf", m=8, where=None) is first
    assert fixture(spark, sf_dir="sf") is first
    assert len(builds) == 1
    # a different argument is a different entry
    assert fixture(spark, "sf", where="x") is not first
    assert fixture(spark, "sf", 8, "x") is fixture(spark, "sf", where="x")
    assert len(builds) == 2


def test_failed_build_is_retried():
    calls = []

    @session_fixture
    def flaky(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return len(calls)

    spark = _stub("app-1")
    with pytest.raises(RuntimeError):
        flaky(spark, "sf")
    assert flaky(spark, "sf") == 2
    assert flaky(spark, "sf") == 2
    assert len(calls) == 2


def test_new_application_id_evicts_stopped_session():
    fixture, builds = _counting_fixture()
    old = fixture(_stub("app-1"), "sf")
    new = fixture(_stub("app-2"), "sf")
    assert new is not old
    # app-1's entry was dropped on the app-2 lookup: a (hypothetical)
    # return to app-1 rebuilds rather than serving the stale object
    assert fixture(_stub("app-1"), "sf") is not old
    assert len(builds) == 3


def test_cache_clear_forces_rebuild():
    fixture, builds = _counting_fixture()
    spark = _stub("app-1")
    first = fixture(spark, "sf")
    fixture.cache_clear()
    assert fixture(spark, "sf") is not first
    assert len(builds) == 2


def test_every_memo_goes_through_session_fixture():
    """No hand-rolled per-session memo survives in the package: no
    SessionCache / scoped_key, no module-level ``_*_CACHE`` dict and no
    lazily-initialised ``_X = None`` cache global."""
    module_cache = re.compile(r"^_\w*CACHE\w*\s*(:[^=]*)?=", re.M)
    lazy_global = re.compile(r"^\s+global\s+_\w+", re.M)
    none_global = re.compile(r"^_[A-Z_]+\s*(:[^=]*)?=\s*None\b", re.M)
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PACKAGE.parent)
        for word in ("SessionCache", "scoped_key"):
            if word in src:
                offenders.append(f"{rel}: {word}")
        for pat in (module_cache, lazy_global, none_global):
            offenders += [f"{rel}: {m.group(0).strip()}" for m in pat.finditer(src)]
    assert not offenders, offenders


def test_racing_threads_share_one_result():
    """Concurrent first calls may each build, but every caller must get
    the one stored object (no lost update between check and store)."""
    import sys
    import threading
    import time

    @session_fixture
    def slow(spark, sf_dir, part):
        time.sleep(0.001)
        return object()

    spark = _stub("app-1")
    seen: dict[int, set] = {p: set() for p in range(4)}
    errors = []

    def worker():
        try:
            for i in range(50):
                seen[i % 4].add(id(slow(spark, "sf", i % 4)))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(len(ids) == 1 for ids in seen.values()), seen

"""The session-stage registry (``aind_data_transformation_spark.stages``):
per-session keys, eviction that never touches a live entry, failure
cleanup, ``clear()``, and build-once under concurrent callers."""

import os
import shutil
import sys
import tempfile
import threading
from types import SimpleNamespace

import pytest

from aind_data_transformation_spark.stages import Stage


def _session(app_id: str):
    """Just enough of a SparkSession for the registry: its app id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _write_marker(scratch: str) -> str:
    with open(os.path.join(scratch, "marker"), "w") as fh:
        fh.write("staged")
    return scratch


def _never(scratch: str):
    pytest.fail(f"rebuilt a live entry into {scratch}")


def test_second_session_evicts_only_the_dead_entry():
    """Session A stages, then session B stages the same key in the same
    process: A's directory goes, B's is intact and served from then on.
    The scratch path names the session, so B's fresh directory is never
    the one evicted with A."""
    stage = Stage("test_evict")
    key = ("/data/sf0.01",)
    try:
        a = stage.get(_session("app-A"), key, _write_marker)
        b = stage.get(_session("app-B"), key, _write_marker)
        assert a != b
        assert not os.path.exists(a)
        assert os.path.isfile(os.path.join(b, "marker"))
        assert list(stage) == [("app-B", "/data/sf0.01")]
        assert stage.get(_session("app-B"), key, _never) == b
        root = os.path.join(
            tempfile.gettempdir(), "spark_graft_stages", str(os.getpid())
        )
        assert b.startswith(os.path.join(root, "app-B", "test_evict") + "/")
    finally:
        stage.clear()


def test_keys_get_distinct_scratch_dirs():
    """Keys that differ only in a trailing part (same corpus, another k)
    and corpora that share a base name never share a directory."""
    stage = Stage("test_keys")
    s = _session("app-A")
    try:
        dirs = {
            stage.get(s, key, lambda scratch: scratch)
            for key in [("/x/sf0.01", 4), ("/x/sf0.01", 8), ("/y/sf0.01", 4)]
        }
        assert len(dirs) == 3
        assert sorted(k[1:] for k in stage) == [
            ("/x/sf0.01", 4), ("/x/sf0.01", 8), ("/y/sf0.01", 4)
        ]
    finally:
        stage.clear()


def test_failed_build_leaves_no_entry_and_no_directory():
    stage = Stage("test_fail")
    seen = []

    def boom(scratch: str):
        seen.append(scratch)
        _write_marker(scratch)
        raise RuntimeError("build failed")

    try:
        with pytest.raises(RuntimeError, match="build failed"):
            stage.get(_session("app-A"), ("k",), boom)
        assert list(stage) == []
        assert not os.path.exists(seen[0])
        # the next call builds afresh into the same (recreated) place
        assert stage.get(_session("app-A"), ("k",), _write_marker) == seen[0]
    finally:
        stage.clear()


def test_clear_forces_rebuild_and_vanished_scratch_rebuilds():
    stage = Stage("test_clear")
    s = _session("app-A")
    calls = []

    def build(scratch: str) -> int:
        calls.append(scratch)
        return len(calls)

    try:
        assert stage.get(s, ("k",), build) == 1
        assert stage.get(s, ("k",), build) == 1
        stage.clear()
        assert list(stage) == [] and not os.path.exists(calls[0])
        assert stage.get(s, ("k",), build) == 2
        shutil.rmtree(calls[1])
        assert stage.get(s, ("k",), build) == 3
    finally:
        stage.clear()


def test_concurrent_callers_build_once_and_nested_stage_does_not_deadlock(
    spark,
):
    """More threads than cores race one stage whose builder calls a
    second stage, while half the threads hit that inner stage directly.
    Each builder runs once and every caller gets the same object."""
    outer, inner = Stage("test_threads_outer"), Stage("test_threads_inner")
    builds = []

    def build_inner(_scratch: str):
        builds.append("inner")
        return spark.range(3).localCheckpoint()

    def build_outer(_scratch: str):
        builds.append("outer")
        return inner.get(spark, ("k",), build_inner).selectExpr("id * 2 AS x")

    n_threads = 4 * (os.cpu_count() or 1)
    barrier = threading.Barrier(n_threads)
    results: list = [None] * n_threads
    errors: list = []

    def worker(i: int) -> None:
        try:
            barrier.wait(timeout=60)
            if i % 2:
                results[i] = inner.get(spark, ("k",), build_inner)
            else:
                results[i] = outer.get(spark, ("k",), build_outer)
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,), daemon=True)
            for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    try:
        assert not errors, errors
        assert sorted(builds) == ["inner", "outer"]
        assert all(r is results[0] for r in results[0::2])
        assert all(r is results[1] for r in results[1::2])
        assert sorted(r.x for r in results[0].collect()) == [0, 2, 4]
    finally:
        outer.clear()
        inner.clear()

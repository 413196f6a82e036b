"""``scope.cache_scope`` releases everything a call leaves behind: the
release order and error rules (no Spark needed), thread isolation, and
one scope over the catalog calls that make scratch directories and a
memory-sink view."""

from __future__ import annotations

import glob
import os
import tempfile
import threading

import pytest

from esther_apache_spark_spark import plans, scope


def test_releases_run_lifo_and_a_failure_skips_none():
    ran: list[str] = []

    def boom(tag: str):
        def release():
            ran.append(tag)
            raise RuntimeError(tag)

        return release

    with pytest.raises(RuntimeError) as info:
        with scope.cache_scope():
            scope.on_exit(lambda: ran.append("first"))
            scope.on_exit(boom("second"))
            scope.on_exit(lambda: ran.append("third"))
            scope.on_exit(boom("fourth"))
    # LIFO; "fourth" fails first and is re-raised, yet every release runs
    assert ran == ["fourth", "third", "second", "first"]
    assert info.value.args == ("fourth",)
    assert any("second" in n for n in info.value.__notes__)


def test_nested_scope_releases_only_its_own():
    ran: list[str] = []
    with scope.cache_scope():
        scope.on_exit(lambda: ran.append("outer"))
        with scope.cache_scope():
            scope.on_exit(lambda: ran.append("inner"))
        assert ran == ["inner"]
    assert ran == ["inner", "outer"]
    scope.on_exit(lambda: ran.append("unscoped"))  # outside any scope: never runs
    assert ran == ["inner", "outer"]


def test_scratch_dir_goes_with_its_scope_and_outside_lands_under_the_reaped_root():
    root = scope.scratch_root()
    assert root in scope._REAPED
    with scope.cache_scope():
        d = scope.scratch_dir("t")
        open(os.path.join(d, "f"), "w").close()
        assert os.path.dirname(d) == root
    assert not os.path.exists(d)
    kept = scope.scratch_dir("t")
    assert os.path.dirname(kept) == root and os.path.isdir(kept)


def test_one_threads_scope_never_releases_anothers():
    ran: list[str] = []
    inside = threading.Barrier(3, timeout=30)
    release = {n: threading.Event() for n in ("a", "b")}
    done = {n: threading.Event() for n in ("a", "b")}

    def run(name: str) -> None:
        with scope.cache_scope():
            scope.on_exit(lambda: ran.append(name))
            inside.wait()
            release[name].wait(timeout=30)
        done[name].set()

    threads = [threading.Thread(target=run, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    try:
        inside.wait()
        release["a"].set()
        assert done["a"].wait(timeout=30)
        assert ran == ["a"]
        release["b"].set()
        assert done["b"].wait(timeout=30)
        assert ran == ["a", "b"]
    finally:
        for e in release.values():
            e.set()
        for t in threads:
            t.join(timeout=30)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_scope_exit_removes_every_directory_and_view_its_calls_made(spark, sf_dir):
    """Inside one scope: an incremental entry (index store), the
    streaming novelty entry (index store + gate output), the JVM-image
    entry (spilled image files) and a memory-sink runner (temp view).
    Each result is counted inside the scope; after it exits nothing
    those calls made is left on disk or in the session catalog."""
    from esther_apache_spark_spark.streaming.events import (
        run_streaming_tumbling_agg,
    )

    root = scope.scratch_root()
    tmp_jvm = os.path.join(tempfile.gettempdir(), "jvm_img_*")
    dirs_before = set(os.listdir(root))
    jvm_before = set(glob.glob(tmp_jvm))
    views_before = _temp_views(spark)
    with scope.cache_scope():
        for name in (
            "incremental_minhash_dedup_new_docs",
            "streaming_minhash_novelty_docs",
            "multimodal_jvm_png_features",
        ):
            assert plans.QUERIES[name].fn(spark, sf_dir).count() > 0, name
        assert run_streaming_tumbling_agg(spark, sf_dir).count() > 0
        made = set(os.listdir(root)) - dirs_before
        views = _temp_views(spark) - views_before
        for kind in ("mh_", "stream_novel_", "jvm_img_"):
            assert any(d.startswith(kind) for d in made), (kind, made)
        assert views
    assert not made & set(os.listdir(root))
    assert set(glob.glob(tmp_jvm)) == jvm_before
    assert not views & _temp_views(spark)

"""index_cache: the persisted-ANN-index lifecycle (VERDICT r4 wrong #4,
ADVICE r4 #1) — user-owned 0700 root, full-precision source tags,
build-into-temp + atomic-rename commit. Pure-filesystem tests, no Spark."""

from __future__ import annotations

import os
import stat

import pytest

from dq_true_north_spark.textquality import index_cache as IC

SUBDIRS = ("inverted", "centroids")


def _fake_build(success: bool = True):
    """Builder that lays out the expected subdirs (with or without the
    _SUCCESS commit markers) and records every temp dir it was handed."""
    calls: list[str] = []

    def build(tmp: str) -> None:
        calls.append(tmp)
        for d in SUBDIRS:
            os.makedirs(os.path.join(tmp, d))
            with open(os.path.join(tmp, d, "part-0"), "w") as f:
                f.write("data")
            if success:
                with open(os.path.join(tmp, d, "_SUCCESS"), "w"):
                    pass

    build.calls = calls
    return build


@pytest.fixture()
def cache_env(tmp_path, monkeypatch):
    monkeypatch.setenv("DQ_INDEX_CACHE_DIR", str(tmp_path / "root"))
    return tmp_path


def test_root_is_private_and_user_owned(cache_env):
    root = IC.cache_root()
    st = os.stat(root)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    # a pre-existing looser mode is tightened on the next use
    os.chmod(root, 0o755)
    IC.cache_root()
    assert stat.S_IMODE(os.stat(IC.cache_root()).st_mode) == 0o700


def test_root_owned_by_another_user_is_refused(cache_env, monkeypatch):
    root = IC.cache_root()
    real_stat = os.stat

    def fake_stat(p, *a, **k):
        st = real_stat(p, *a, **k)
        if os.path.abspath(p) == os.path.abspath(root):
            vals = list(st)
            vals[stat.ST_UID] = os.getuid() + 1
            return os.stat_result(vals)
        return st

    monkeypatch.setattr(os, "stat", fake_stat)
    with pytest.raises(RuntimeError, match="owned by uid"):
        IC.cache_root()


def test_tag_carries_mtime_ns_and_size(cache_env):
    src = cache_env / "embeddings.parquet"
    src.write_bytes(b"v1")
    p1 = IC.tagged_path("ivf", 1, str(src))
    # same-second in-place regeneration: bump mtime by ONE NANOSECOND —
    # the int(getmtime) whole-second tag reused a stale index here
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    p2 = IC.tagged_path("ivf", 1, str(src))
    assert p1 != p2
    # content-size change and version bump also retag
    src.write_bytes(b"v2-longer")
    assert IC.tagged_path("ivf", 1, str(src)) != p2
    assert IC.tagged_path("ivf", 2, str(src)) != IC.tagged_path(
        "ivf", 1, str(src)
    )


def test_build_commits_atomically_and_is_reused(cache_env):
    path = os.path.join(IC.cache_root(), "idx")
    build = _fake_build()
    got = IC.ensure_index(path, SUBDIRS, build)
    assert got == path and IC.is_valid(path, SUBDIRS)
    # the builder worked in a sibling temp dir, never in the visible path
    assert build.calls and all(c != path for c in build.calls)
    assert not os.path.exists(build.calls[0])       # temp dir cleaned up
    # second call: cache hit, no rebuild
    IC.ensure_index(path, SUBDIRS, build)
    assert len(build.calls) == 1


def test_half_built_directory_is_rebuilt(cache_env):
    """A directory without _SUCCESS markers (interrupted pre-discipline
    build) must be replaced, never trusted."""
    path = os.path.join(IC.cache_root(), "idx")
    os.makedirs(os.path.join(path, "inverted"))     # no _SUCCESS anywhere
    with open(os.path.join(path, "inverted", "junk"), "w") as f:
        f.write("stale")
    build = _fake_build()
    IC.ensure_index(path, SUBDIRS, build)
    assert len(build.calls) == 1
    assert IC.is_valid(path, SUBDIRS)
    assert not os.path.exists(os.path.join(path, "inverted", "junk"))


def test_builder_without_success_markers_raises(cache_env):
    path = os.path.join(IC.cache_root(), "idx")
    bad = _fake_build(success=False)
    with pytest.raises(RuntimeError, match="_SUCCESS"):
        IC.ensure_index(path, SUBDIRS, bad)
    assert not os.path.exists(path)                 # nothing committed
    assert not os.path.exists(bad.calls[0])         # temp cleaned up


def test_rename_race_loser_accepts_winner(cache_env):
    """If a concurrent builder commits first, the loser's rename fails —
    it must validate the winner's index and discard its own build."""
    path = os.path.join(IC.cache_root(), "idx")
    winner = _fake_build()

    def racing_build(tmp: str) -> None:
        # winner commits while our build is still in flight
        IC.ensure_index(path, SUBDIRS, winner)
        _fake_build()(tmp)

    got = IC.ensure_index(path, SUBDIRS, racing_build)
    assert got == path and IC.is_valid(path, SUBDIRS)
    leftovers = [
        d for d in os.listdir(IC.cache_root()) if d.startswith("idx.build-")
    ]
    assert leftovers == []                          # loser cleaned up


def test_stale_orphaned_builds_are_swept(cache_env, monkeypatch):
    """A builder killed mid-flight (SIGKILL between build_fn and cleanup)
    leaves '<tag>.build-<uuid>' garbage nothing else matches; the next
    ensure_index reclaims ones older than the stale window and leaves
    fresh (possibly in-flight) ones alone."""
    import time

    root = IC.cache_root()
    old = os.path.join(root, "idx.build-deadbeef")
    os.makedirs(os.path.join(old, "inverted"))
    ancient = (time.time() - IC._STALE_BUILD_SECONDS - 10,) * 2
    os.utime(os.path.join(old, "inverted"), ancient)
    os.utime(old, ancient)
    fresh = os.path.join(root, "idx.build-cafe")
    os.makedirs(fresh)
    # a SLOW build: the top dir is old but a child subdir is still being
    # written — activity gating must NOT sweep it
    slow = os.path.join(root, "idx.build-beef")
    os.makedirs(os.path.join(slow, "inverted"))
    os.utime(slow, ancient)                 # top-level frozen at start
    # (child keeps its fresh creation mtime = in-flight writes)

    IC.ensure_index(os.path.join(root, "idx"), SUBDIRS, _fake_build())
    assert not os.path.exists(old)          # crash leftover reclaimed
    assert os.path.exists(fresh)            # in-flight build untouched
    assert os.path.exists(slow)             # slow-but-active build kept


def test_package_zip_is_user_owned_and_atomic(cache_env):
    """The executor package zip (__spark_entry__._package_zip) lives in the
    user-owned 0700 cache root, not at a predictable shared /tmp path, and
    its temp-then-replace write leaves no temp file behind."""
    import zipfile

    import __spark_entry__ as entry

    path = entry._package_zip()
    root = IC.cache_root()
    assert os.path.dirname(path) == root
    assert os.stat(path).st_uid == os.getuid()
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700
    with zipfile.ZipFile(path) as z:
        assert "dq_true_north_spark/textquality/dedup.py" in z.namelist()
    assert entry._package_zip() == path            # rewrite replaces it
    assert os.listdir(root) == [os.path.basename(path)]

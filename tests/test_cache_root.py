"""The engine's on-disk cache discipline: one cache root taken from the
checkout (``session.CACHE_ROOT``), per-scale-factor artifact paths
(``tables.cache_path``), the one build-if-stale rule
(``tables.derived``), and the host-sized default driver heap."""

from __future__ import annotations

import os

import pytest

from mo_etl_spark import tables
from mo_etl_spark.session import CACHE_ROOT, ENGINE_ROOT, _heap_sizes


def test_cache_root_is_in_the_checkout():
    assert CACHE_ROOT == os.path.join(ENGINE_ROOT, ".cache")
    assert tables.cache_path("/data/sf0.01/", "feed") == os.path.join(
        CACHE_ROOT, "sf0.01", "feed"
    )
    assert tables.table_tag("/data/sf-0.01") == "sf_0_01"


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """A scale-factor dir with one source table, a private cache root,
    and a ``build`` that writes ``_SUCCESS`` and records its calls."""
    monkeypatch.setattr(tables, "CACHE_ROOT", str(tmp_path / "cache"))
    sf_dir = tmp_path / "sf0.01"
    sf_dir.mkdir()
    src = sf_dir / "events.parquet"
    src.write_bytes(b"v1")
    os.utime(src, (1_000, 1_000))
    calls = []

    def build(path):
        calls.append(path)
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    return str(sf_dir), str(src), build, calls


def test_derived_builds_when_missing(cache):
    sf_dir, _, build, calls = cache
    path = tables.derived(sf_dir, "feed", "events", build)
    assert path == tables.cache_path(sf_dir, "feed")
    assert calls == [path]
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_derived_reuses_when_newer_than_source(cache):
    sf_dir, _, build, calls = cache
    tables.derived(sf_dir, "feed", "events", build)
    tables.derived(sf_dir, "feed", "events", build)
    assert len(calls) == 1


def test_derived_rebuilds_after_source_touched(cache):
    sf_dir, src, build, calls = cache
    path = tables.derived(sf_dir, "feed", "events", build)
    os.utime(os.path.join(path, "_SUCCESS"), (2_000, 2_000))
    os.utime(src, (3_000, 3_000))
    tables.derived(sf_dir, "feed", "events", build)
    assert len(calls) == 2


def test_derived_rebuilds_after_marker_removed(cache):
    sf_dir, _, build, calls = cache
    path = tables.derived(sf_dir, "feed", "events", build)
    os.remove(os.path.join(path, "_SUCCESS"))
    tables.derived(sf_dir, "feed", "events", build)
    assert len(calls) == 2


def test_derived_without_source_builds_once(cache):
    sf_dir, src, build, calls = cache
    tables.derived(sf_dir, "seed", None, build)
    os.utime(src, None)  # a source touch does not concern a constant
    tables.derived(sf_dir, "seed", None, build)
    assert len(calls) == 1


def test_derived_checks_the_named_marker(cache):
    sf_dir, _, build, calls = cache

    def build_dirs(path):
        for b in range(4):
            build(os.path.join(path, f"b{b}"))

    tables.derived(sf_dir, "multi", "events", build_dirs, done="b3/_SUCCESS")
    tables.derived(sf_dir, "multi", "events", build_dirs, done="b3/_SUCCESS")
    assert len(calls) == 4
    os.remove(os.path.join(tables.cache_path(sf_dir, "multi"), "b3", "_SUCCESS"))
    tables.derived(sf_dir, "multi", "events", build_dirs, done="b3/_SUCCESS")
    assert len(calls) == 8


@pytest.mark.parametrize(
    "phys_gib, heap, xms",
    [(16, 8, 2), (15.7, 7, 2), (64, 24, 8), (256, 24, 8), (4, 2, 1), (1, 1, 1)],
)
def test_driver_heap_from_host_memory(phys_gib, heap, xms):
    """Half of physical memory, capped at 24 GB, initial heap a third
    of it: a 16 GB host gets 8g/-Xms2g, a large host the 24g/-Xms8g it
    had before."""
    assert _heap_sizes(int(phys_gib * (1 << 30))) == (heap, xms)

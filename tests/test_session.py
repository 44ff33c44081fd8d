"""Session factory choices: codec defaults on both sides of the core-count
threshold, and the worker warm-up's once-per-session and failure contracts."""

import threading
import time

import pytest

from ariadna_spark import session as S


@pytest.mark.parametrize(
    "cores, want", [(4, ("snappy", "lz4")), (8, ("zstd", "zstd"))]
)
def test_default_codecs_scale_with_cores(monkeypatch, cores, want):
    monkeypatch.delenv("ARIADNA_PARQUET_CODEC", raising=False)
    monkeypatch.delenv("ARIADNA_IO_CODEC", raising=False)
    assert S.default_codecs(cores) == want


def test_codec_env_overrides_and_empty_counts_as_unset(monkeypatch):
    monkeypatch.setenv("ARIADNA_PARQUET_CODEC", "gzip")
    monkeypatch.setenv("ARIADNA_IO_CODEC", "snappy")
    assert S.default_codecs(4) == ("gzip", "snappy")
    monkeypatch.setenv("ARIADNA_PARQUET_CODEC", "")
    monkeypatch.setenv("ARIADNA_IO_CODEC", "")
    assert S.default_codecs(4) == ("snappy", "lz4")
    assert S.default_codecs(8) == ("zstd", "zstd")


@pytest.mark.parametrize(
    "mem_total_kib, want",
    [(16_456_384, "7g"), (128 * 2**20, "24g"), (1_500_000, "1g")],
)
def test_driver_memory_default_follows_the_machine(mem_total_kib, want):
    """Half of MemTotal in whole GiB, between 1g and 24g."""
    meminfo = f"MemTotal:       {mem_total_kib} kB\nMemFree:        1024 kB\n"
    assert S.default_driver_memory(meminfo) == want


def test_driver_memory_default_without_meminfo():
    assert S.default_driver_memory("") == "24g"


def test_concurrent_warmup_calls_start_one_job(monkeypatch):
    """Racing callers on a fresh session start exactly one warm-up."""

    class _Session:
        _warmed = False

        @property
        def _ariadna_workers_warmed(self):
            seen = self._warmed
            time.sleep(0.05)  # widen the check-then-set window
            return seen

        @_ariadna_workers_warmed.setter
        def _ariadna_workers_warmed(self, v):
            self._warmed = v

    sess, ran = _Session(), []
    monkeypatch.setattr(S, "_warm_python_workers", ran.append)
    gate = threading.Barrier(8, timeout=30)
    started = []

    def call():
        gate.wait()
        started.append(S.ensure_workers_warm(sess))

    threads = [threading.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    live = [t for t in started if t is not None]
    assert len(started) == 8 and len(live) == 1
    live[0].join(timeout=10)
    assert ran == [sess]


def test_warmup_failure_warns_with_the_error():
    class _Broken:
        @property
        def sparkContext(self):
            raise RuntimeError("no context")

    with pytest.warns(RuntimeWarning, match="warm-up failed.*no context"):
        S._warm_python_workers(_Broken())

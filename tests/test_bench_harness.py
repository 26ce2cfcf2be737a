"""bench.time_queries pins the timing method every bench mode shares.

Driven with a stub per-query runner and a fake clock, so no Spark
session is needed: one untimed warm-up run per query, every query once
per cycle in the md5-keyed order, GC after every query outside the
timed region.
"""

from __future__ import annotations

import hashlib

import pytest

import bench

NAMES = ["q_alpha", "q_beta", "q_gamma", "q_delta", "q_epsilon", "q_zeta"]
GC_COST = 1000.0


def _drive(monkeypatch, repeats: int, names=NAMES):
    """Run time_queries over stubs; return (walls, event log).

    The k-th run (1-based, warm-up included) costs k seconds on the
    fake clock and every GC costs GC_COST, so a wall identifies the
    call it timed and any GC inside the timed region shows.
    """
    clock = [0.0]
    events: list[str] = []

    def run(name: str) -> None:
        events.append(name)
        clock[0] += sum(e != "gc" for e in events)

    def gc() -> None:
        events.append("gc")
        clock[0] += GC_COST

    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    walls = bench.time_queries(run, list(names), repeats, gc)
    return walls, events


def _md5_order(r: int, names=NAMES) -> list[str]:
    return sorted(names, key=lambda n: hashlib.md5(f"{r}:{n}".encode()).hexdigest())


def test_gc_follows_every_query(monkeypatch):
    _, events = _drive(monkeypatch, repeats=3)
    assert events[0::2] == [e for e in events if e != "gc"]
    assert events[1::2] == ["gc"] * (len(events) // 2)


def test_one_untimed_warmup_then_each_query_once_per_cycle(monkeypatch):
    repeats = 5
    walls, events = _drive(monkeypatch, repeats)
    runs = [e for e in events if e != "gc"]
    n = len(NAMES)
    assert len(runs) == n * (1 + repeats)
    assert runs[:n] == NAMES  # warm-up, in list order
    for r in range(repeats):
        assert runs[n * (1 + r) : n * (2 + r)] == _md5_order(r)
    # walls are the timed cycles only: call k costs k, warm-up is 1..n
    assert set(walls) == set(NAMES)
    for name, ws in walls.items():
        assert len(ws) == repeats
        assert all(w > n for w in ws)
        assert all(w < GC_COST for w in ws)  # GC is outside the timing
        assert [runs[int(w) - 1] for w in ws] == [name] * repeats


def test_cycles_are_repermuted(monkeypatch):
    _, events = _drive(monkeypatch, repeats=5)
    runs = [e for e in events if e != "gc"]
    n = len(NAMES)
    cycles = {tuple(runs[n * (1 + r) : n * (2 + r)]) for r in range(5)}
    assert len(cycles) > 1


@pytest.mark.parametrize("repeats", [4, 5])
def test_first_three_cycles_equal_a_min_of_3_run(monkeypatch, repeats):
    """queries_min_of_3 relies on cycles 0-2 being a min-of-3 run."""
    _, longer = _drive(monkeypatch, repeats)
    _, three = _drive(monkeypatch, 3)
    assert longer[: len(three)] == three


def test_point_heap_is_a_share_of_the_host(monkeypatch, tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\nMemFree:         9000000 kB\n")
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert bench._driver_memory(str(meminfo)) == f"{int(16000000 * bench.HEAP_SHARE) // 1024}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert bench._driver_memory(str(meminfo)) == "3g"

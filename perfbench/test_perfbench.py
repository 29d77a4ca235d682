"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import random
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT)]

from perfbench import datagen, stats, workloads  # noqa: E402
from perfbench.trace import Tracer, layer_metrics, self_times  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _statements(seed: int, **kw) -> bytes:
    cycles = workloads.ingest_cycles(seed, workloads.INGEST_CYCLES, **kw)
    return "\n".join(sql for c in cycles for _, sql in c["statements"]).encode()


def test_same_seed_same_statements():
    assert _statements(3) == _statements(3)
    assert _statements(3) != _statements(4)
    assert not set(_statements(3).split(b"\n")) & set(_statements(3, warm=True).split(b"\n"))


def test_every_round_writes_every_partition_key():
    keys = [c["key"] for c in workloads.ingest_cycles(5, workloads.INGEST_CYCLES)]
    n = len(workloads.PARTITION_KEYS)
    assert all(sorted(keys[i : i + n]) == sorted(k for k, _, _ in workloads.PARTITION_KEYS)
               for i in range(0, len(keys), n))


def test_registry_timed_are_headliners_with_oracles():
    from impala_cut_spark.plans import REGISTRY

    names = workloads.REGISTRY_TIMED
    assert len(set(names)) == len(names)
    # an odd count puts the median sample inside one query's samples
    assert len(names) % 2 == 1
    assert all(REGISTRY[n].headline and REGISTRY[n].oracle for n in names)


def test_tables_are_deterministic():
    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)


def test_metric_names():
    declared = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(declared) == len(set(declared))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in declared)
    tr = Tracer()
    with tr.span("statement"):
        pass
    produced = {"setup.session_s", "setup.views_s", "setup.servers_s"}
    produced |= set(layer_metrics(tr, {k: 0 for k in _JVM_KEYS}))
    assert produced == {m["name"] for m in SPEC["per_layer"]}


_JVM_KEYS = ("codegen.compiles", "codegen.compile_ms", "jvm.gc_count", "jvm.gc_ms", "jvm.heap_peak_mb")


@pytest.mark.parametrize("n", [11, 21, 30, 57, 200])
def test_tail_keeps_ten_beyond(n):
    rng = random.Random(n)
    for ties in (False, True):
        xs = [rng.randrange(5) if ties else rng.random() for _ in range(n)]
        try:
            t = stats.tail(xs)
        except ValueError:
            assert ties  # only ties can leave no percentile with ten beyond
            continue
        assert sum(1 for x in xs if x > t["value"]) == t["beyond"] >= stats.TAIL_BEYOND
        assert sum(1 for x in xs if x <= t["value"]) == round(t["percentile"] * n / 100)
        assert t["n"] == n
    xs = [float(i) for i in range(n)]
    t = stats.tail(xs)
    assert t["beyond"] == stats.TAIL_BEYOND and t["value"] == n - 11


def test_tail_needs_enough_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_failed_frac_counts_errors_and_mismatches():
    out = workloads.Outcome(attempted=10)
    out.error("s1", RuntimeError("boom"))
    out.mismatch("s2", "row 0 differs")
    out.mismatch("s3", "row count")
    assert (out.errors, out.mismatches) == (1, 2)
    assert stats.failed_frac(out.errors, out.mismatches, out.attempted) == pytest.approx(0.3)
    assert stats.failed_frac(0, 0, 5) == 0.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0)


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [
        {"id": 1, "parent": None, "name": "statement", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "wire.fetch", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "wire.fetch", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 2, "name": "exec.job", "start": 2.0, "end": 3.0},
    ]
    st = self_times(tr.spans)
    assert st == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}

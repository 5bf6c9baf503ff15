"""The traced run's span tree is well-formed and its report matches
BENCHMARK.json. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


def _fake_layers():
    mod = types.SimpleNamespace()
    mod.leaf = lambda x: x + 1
    mod.mid = lambda x: mod.leaf(x) * 2
    return mod


def test_span_tree_is_well_formed():
    tr = Tracer()
    mod = _fake_layers()
    tr.patch(mod, "leaf", "layer.leaf")
    tr.patch(mod, "mid", lambda a, k: f"layer.mid.{a[0]}")
    for op in range(3):
        tr.op = op
        with tr.span("op", op=op):
            assert mod.mid(op) == 2 * (op + 1)
    worker = threading.Thread(target=lambda: mod.leaf(0))   # no parent on this thread
    worker.start()
    worker.join(timeout=10)
    assert not worker.is_alive()
    tr.unpatch()
    assert mod.leaf(1) == 2 and not hasattr(mod.leaf, "__wrapped__")

    assert tr.check() == []
    names = [s.name for s in tr.spans]
    assert names.count("op") == 3 and names.count("layer.leaf") == 4
    for i, s in enumerate(tr.spans):
        if s.name == "layer.leaf" and s.parent is not None:
            assert tr.spans[s.parent].name.startswith("layer.mid.")
            assert tr.spans[s.parent].op == s.op
    orphan = [s for s in tr.spans if s.name == "layer.leaf" and s.parent is None]
    assert len(orphan) == 1 and orphan[0].op == 2

    selft = tr.self_times()
    total = sum(s.end - s.start for s in tr.spans if s.parent is None)
    assert abs(sum(t for t, _ in selft.values()) - total) < 1e-6
    assert selft["layer.leaf"][1] == 4


def test_check_reports_a_child_outside_its_parent():
    tr = Tracer()
    with tr.span("a", op=0):
        with tr.span("b"):
            pass
    tr.spans[1].end = tr.spans[0].end + 1.0
    assert any("outside parent" in p for p in tr.check())


def test_per_layer_names_match_benchmark_json():
    spec = json.load(open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                                       "BENCHMARK.json")))
    ctx = workloads.Ctx(spark=None, work="", seed=0, seconds=1.0)
    got = run.per_layer(ctx, Tracer(), 1.0)
    assert list(got) == [m["name"] for m in spec["per_layer"]]
    assert {run.unit_of(k) for k in got} <= {m["unit"] for m in spec["per_layer"]}


def test_ingest_loop_stops_when_every_sync_fails(monkeypatch, tmp_path):
    from twitter_to_sqlite_spark import commands

    def down(*args, **kwargs):
        raise RuntimeError("service down")

    monkeypatch.setattr(commands, "user_timeline", down)
    ctx = workloads.Ctx(spark=None, work=str(tmp_path), seed=0, seconds=600.0)
    wl = workloads.IngestSync(ctx)
    wl.world = types.SimpleNamespace(next_user=lambda: 1, publish=lambda uid: 0,
                                     fetch=None)
    wl.db = types.SimpleNamespace(root=str(tmp_path))
    wl.measure()
    assert ctx.failed == workloads.MAX_FAILURES and not ctx.latencies


def test_fixture_digest_follows_the_settings():
    a = workloads.source_digest({"users": 300}, 20)
    assert a == workloads.source_digest({"users": 300}, 20)
    assert a != workloads.source_digest({"users": 301}, 20)

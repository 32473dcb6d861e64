"""Tests for the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import types

import pytest

from perfbench import inputs, pipeline_daily, query_suite, run, table_dml
from perfbench.trace import Span, Tracer, merged_length, parse_metric, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(directory):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, directory)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(seed: int, d: str) -> dict[str, str]:
    inputs.write_dims(seed, os.path.join(d, "dims"), 500)
    inputs.write_day(seed, 3, os.path.join(d, "day"), 12, 50, 500)
    inputs.write_dml_base(seed, os.path.join(d, "dml"), 1000, 4)
    inputs.write_query_tables(seed, os.path.join(d, "sf"), 0.001)
    return _digest(d)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    c = _generate(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys()
    # every data-bearing file changes with the seed (the static region /
    # nation tables and the zero-byte planted file do not)
    changed = {k for k in a if a[k] != c[k]}
    assert {"dims/customer.parquet", "dml/part-00000.parquet", "sf/lineitem.parquet",
            "sf/documents.parquet", "sf/embeddings.parquet", "day/sales_d0003_0000.csv"} <= changed


def test_op_sequence_is_seeded():
    def key(ops):
        return [(o["kind"], o.get("predicate"), o["rows"].to_pylist() if "rows" in o else None) for o in ops]

    assert key(inputs.dml_ops(1, 1000, 4, 2, 20)) == key(inputs.dml_ops(1, 1000, 4, 2, 20))
    assert key(inputs.dml_ops(1, 1000, 4, 2, 20)) != key(inputs.dml_ops(2, 1000, 4, 2, 20))


def test_planted_files_are_recorded(tmp_path):
    man = inputs.write_day(1, 0, str(tmp_path), 16, 20, 100)
    plan = inputs.day_plan(16)
    names = man["files"]
    assert man["quarantine"] == sorted(names[i] for i in plan["missing"] + plan["zero"])
    assert man["wide"] == [names[i] for i in plan["wide"]]
    for i in plan["zero"]:
        assert os.path.getsize(tmp_path / names[i]) == 0
    with open(tmp_path / names[plan["missing"][0]]) as fh:
        assert "quantity" not in fh.readline()
    with open(tmp_path / names[plan["wide"][0]]) as fh:
        assert "payment_mode" in fh.readline()


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    for name, unit in {**e2e, **layer}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), (name, unit)
    assert not set(e2e) & set(layer)


def test_self_time_on_synthetic_tree():
    # root [0, 10]: children a [1, 4] and b [3, 6] overlap -> cover [1, 6];
    # a's child c [2, 3.5] -> a self 1.5; b's child d [5, 8] clipped to 6
    spans = [
        Span(0, "root", None, "r", 0.0, 10.0),
        Span(1, "a", 0, "r", 1.0, 4.0),
        Span(2, "b", 0, "r", 3.0, 6.0),
        Span(3, "c", 1, "r", 2.0, 3.5),
        Span(4, "d", 2, "r", 5.0, 8.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(1.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(3.0)
    assert merged_length([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3.0)


def test_parse_metric():
    assert parse_metric("1.5 s") == pytest.approx(1.5)
    assert parse_metric("20 ms") == pytest.approx(0.02)
    assert parse_metric("5.8 KiB") == pytest.approx(5.8 * 1024)
    assert parse_metric("1,000") == 1000
    assert parse_metric("total (min, med, max (stageId: taskId))\n57 ms (12 ms, 14 ms)") == pytest.approx(0.057)
    assert parse_metric(None) == 0.0


class _FakeSparkContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


def test_wrappers_restore_every_attribute():
    fake = types.SimpleNamespace(sparkContext=_FakeSparkContext())
    targets = pipeline_daily.wraps() + table_dml.wraps() + query_suite.wraps()

    def raw(owner, attr):
        return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

    originals = [(owner, attr, raw(owner, attr)) for owner, attr, _ in targets]
    tracer = Tracer(fake, "t")
    for owner, attr, name in targets:
        tracer.wrap(owner, attr, name)
    assert all(raw(o, a) is not orig for o, a, orig in originals)
    tracer.restore()
    for owner, attr, orig in originals:
        assert raw(owner, attr) is orig, f"{owner}.{attr} not restored"


def test_wrapper_records_nested_spans():
    fake = types.SimpleNamespace(sparkContext=_FakeSparkContext())
    mod = types.SimpleNamespace(outer=None, inner=lambda x: x + 1)
    mod.outer = lambda x: mod.inner(x) * 2
    tracer = Tracer(fake, "t")
    tracer.wrap(mod, "inner", "layer.inner")
    tracer.wrap(mod, "outer", "layer.outer")
    assert mod.outer(1) == 4
    tracer.restore()
    (outer, inner) = sorted(tracer.spans, key=lambda s: s.start)
    assert (outer.name, inner.name, inner.parent, outer.parent) == ("layer.outer", "layer.inner", outer.id, None)

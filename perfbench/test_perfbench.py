"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import layers  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WALL, benchmark_json  # noqa: E402
from workloads import COMMON_MOVES, WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _registry():
    from uk_procurement_data_pipeline_spark.queries import registry

    return registry()


def test_workload_lists_resolve_and_match_their_module_rule():
    reg = _registry()
    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries), w.name
        for name in w.queries:
            assert name in reg, f"{w.name}: {name} is not registered"
            spec = reg[name]
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            assert module in w.modules, f"{w.name}: {name} comes from {module}"
            assert w.eager_ok or not spec.eager, f"{w.name}: {name} is eager"
            assert spec.oracle is not None, f"{w.name}: {name} has no oracle"


def test_metric_names_are_well_formed_and_unique():
    names = list(END_TO_END) + [m["name"] for m in PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    for w in WORKLOADS.values():
        assert NAME.fullmatch(w.name)
        for layer, e2e in {**COMMON_MOVES, **w.moves}.items():
            assert layer in {m["name"] for m in PER_LAYER}, layer
            assert set(e2e) <= set(END_TO_END) | set(WALL), e2e


def test_benchmark_json_matches_the_definitions():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert doc == benchmark_json(WORKLOADS.values(), doc["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    for w in doc["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def _span(name, start, end, *children):
    s = layers.Span(name, start, end)
    s.children.extend(children)
    return s


def test_self_time_on_a_fixed_span_tree():
    root = _span(
        "query", 0.0, 10.0,
        _span("queries.build", 0.0, 4.0,
              _span("catalog.load", 0.5, 1.5),
              _span("catalog.load", 2.0, 2.5),
              _span("streaming.batch", 3.0, 3.75)),
        _span("spark.plan", 4.0, 4.5),
        _span("spark.exec", 4.5, 9.0),
    )
    got = layers.self_times(root)
    assert got == {
        "query": 1.0,
        "queries.build": 1.75,
        "catalog.load": 1.5,
        "streaming.batch": 0.75,
        "spark.plan": 0.5,
        "spark.exec": 4.5,
    }
    assert sum(got.values()) == root.duration


def test_recorder_nests_spans_under_the_open_span():
    rec = layers.SpanRecorder()
    rec.begin_query()
    with rec.open("queries.build"):
        with rec.open("catalog.load"):
            pass
    with rec.open("spark.exec"):
        pass
    root = rec.end_query()
    assert [c.name for c in root.children] == ["queries.build", "spark.exec"]
    assert [c.name for c in root.children[0].children] == ["catalog.load"]
    with rec.open("outside a query") as span:
        assert span is None


def test_rebinding_reaches_every_query_module():
    _registry()  # imports every query module
    rec = layers.SpanRecorder()
    counter = {"calls": 0.0, "s": 0.0}
    undo, originals = layers.rebind_loads(rec, counter)
    try:
        assert layers.modules_holding(originals) == []
        from uk_procurement_data_pipeline_spark.queries import relational

        assert relational.load is not originals["load"]
        assert relational.load.__wrapped__ is originals["load"]
    finally:
        undo()
    held = layers.modules_holding(originals)
    assert "uk_procurement_data_pipeline_spark.queries.relational" in held


def test_formatted_sql_metrics_parse_to_base_units():
    parse = layers.parse_metric_total
    assert parse("total (min, med, max (stageId: taskId))\n8.8 KiB (2.2 KiB, 2.2 KiB)") == 8.8 * 1024
    assert parse("total (min, med, max)\n2.1 s (498 ms, 520 ms, 541 ms)") == 2100.0
    assert parse("498 ms") == 498.0
    assert parse("1,024.0 B") == 1024.0
    assert parse("") == 0.0


def test_tail_percentile_keeps_ten_samples_above_it():
    import run

    assert run.tail_percentile(100) == 90
    assert run.tail_percentile(40) == 75
    assert run.tail_percentile(18) == 50
    assert run.percentile([float(i) for i in range(1, 101)], 90) == 90.1

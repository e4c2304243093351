"""The benchmark's own tests; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import re
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import run as R  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.digest import digest, load_pins  # noqa: E402
from perfbench.inputs import EventBatches  # noqa: E402
from perfbench.tracing import NullTracer, Span, Tracer  # noqa: E402


class FakeFrame:
    columns = ["k", "v"]

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class NoRelease:
    def after_op(self, op):
        pass

    def detail(self):
        return {}


def registry_op(rows, pinned, raises=False):
    """A registry op over a fake query whose result is ``rows``."""

    def fn(spark, data_dir):
        if raises:
            raise RuntimeError("engine error")
        return FakeFrame(rows)

    wl = W.RegistryWorkload.__new__(W.RegistryWorkload)
    wl.spark, wl.data_dir = None, "unused"
    wl.queries = {"q": SimpleNamespace(fn=fn)}
    wl.pins = {"q": pinned}
    return wl._op("q", None)


ROWS = [(1, 2.5), (2, None), (3, -0.0)]


def test_digest_ignores_row_and_column_order():
    a = digest(["k", "v"], ROWS)
    assert a == digest(["v", "k"], [(v, k) for k, v in reversed(ROWS)])
    assert a != digest(["k", "v"], ROWS[:2] + [(3, 0.0)])


def test_forced_wrong_digest_counts_as_failed_op():
    good = digest(FakeFrame.columns, ROWS)
    wrong = {**good, "sha256": "0" * 64}
    tracer = NullTracer(None)
    records = [
        R.run_op(registry_op(ROWS, good), NoRelease(), tracer, 0),
        R.run_op(registry_op(ROWS, wrong), NoRelease(), tracer, 1),
        R.run_op(registry_op(ROWS, good, raises=True), NoRelease(), tracer, 2),
    ]
    assert [r.ok for r in records] == [True, False, False]
    line = R.result_line(records, R.end_to_end(records, 1.0, 100.0, NoRelease()), None, R.load_spec())
    assert (line["attempted"], line["failed"], line["correct"]) == (3, 2, False)


def test_same_seed_gives_byte_identical_batches(tmp_path):
    events = R.data_dir() / "events.parquet"
    if not events.is_file():
        pytest.skip("sf0.1 tables not present")
    a = EventBatches(events, tmp_path / "a", seed=7)
    b = EventBatches(events, tmp_path / "b", seed=7)
    other = EventBatches(events, tmp_path / "c", seed=8)
    for i in (0, 5):
        path_a, rows_a = a.load(i)
        path_b, rows_b = b.load(i)
        assert path_a.read_bytes() == path_b.read_bytes()
        assert rows_a == rows_b and len(rows_a) > 0
    assert a.load(5)[0].read_bytes() != other.load(5)[0].read_bytes()
    assert a.load(5)[1] == EventBatches(events, tmp_path / "a", seed=7).load(5)[1]  # from the cache


def test_batches_follow_the_source_event_stream(tmp_path):
    events = R.data_dir() / "events.parquet"
    if not events.is_file():
        pytest.skip("sf0.1 tables not present")
    batches = EventBatches(events, tmp_path, seed=3)
    rows = [r for i in range(3) for r in batches.load(i)[1]]
    assert [r.ts_us for r in rows] == sorted(r.ts_us for r in rows)
    assert [r.date for r in rows] == sorted(r.date for r in rows)
    assert len({r.event_id for r in rows}) == len(rows)


def test_round_count_is_fixed_by_seconds_not_speed():
    seconds = R.load_spec()["run_seconds"]
    assert W.rounds_for("olap_dsl", seconds) == 1
    assert W.rounds_for("ingest_append", seconds) == 2
    assert W.rounds_for("ingest_append", 1) == 1


def test_isolation_refuses_an_engine_whose_scratch_moved(tmp_path, monkeypatch):
    from hustle_spark.streaming import windows

    monkeypatch.setattr(windows, "run_streaming_batch", lambda df, output_mode="complete": df)
    with pytest.raises(RuntimeError, match="update isolate"):
        R.isolate(tmp_path)


def fake_records():
    ops = [W.Op("query", "q", None, None), W.Op("lookup", "l", None, None),
           W.Op("insert", "i", None, None, info={"rows": 10, "json_bytes": 1000}),
           W.Op("compact", "c", None, None), W.Op("stream", "s", None, None)]
    return [R.Record(i, op, 0.5 + i, True) for i, op in enumerate(ops)]


def test_printed_metric_names_equal_the_spec(tmp_path):
    spec = R.load_spec()
    records = fake_records()
    e2e = R.end_to_end(records, 12.0, 900.0, NoRelease())
    line = R.result_line(records, e2e, None, spec)
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]

    tracer = Tracer()
    tracer.spans = [Span("insert", 0.0, 0.4, 2, {"rows": 10}), Span("catalog.table", 0.0, 0.1, 1, {"hit": False})]
    layers = R.per_layer(records, tracer, tmp_path)
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    line = R.result_line(records, e2e, layers, spec)
    assert list(line["metrics"]) == [m["name"] for m in spec["per_layer"]]
    assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())


def test_spec_follows_the_benchmark_contract():
    spec = R.load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert len(set(names)) == len(names)
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_timed_registry_row_has_a_pin():
    pins = load_pins()
    rows = [n for rows in W.REGISTRY_ROWS.values() for n, _ in rows] + [n for rows in W.WARM_ROWS.values() for n in rows]
    assert all(n in pins for n in rows)

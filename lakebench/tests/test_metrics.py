"""The result line carries exactly the metrics BENCHMARK.json declares."""

import json
import os
import types

import pytest

import run
import spans

BENCH = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def _declared(kind):
    with open(BENCH) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def test_per_layer_metrics_match_benchmark_json():
    rec = types.SimpleNamespace(layer={}, manifest_bytes=0,
                                job_counts=lambda: {})
    got = run.per_layer(spans.Tracer(), rec, 1.0)
    assert [(k, u) for k, (_v, u) in got.items()] == _declared("per_layer")


def test_end_to_end_metrics_match_benchmark_json(tmp_path, monkeypatch):
    data = tmp_path / "t"
    data.mkdir()
    (data / "f.parquet").write_bytes(b"x" * 300)
    monkeypatch.setattr(run, "WORK", str(tmp_path))

    def write_state(upto, path):
        with open(path, "wb") as f:
            f.write(b"y" * 100)

    snap = types.SimpleNamespace(all_files=lambda: [types.SimpleNamespace(size=300)])
    w = types.SimpleNamespace(
        oracle=types.SimpleNamespace(write_state=write_state),
        last_bno=lambda: 3,
        table=types.SimpleNamespace(store=types.SimpleNamespace(snapshot=lambda: snap)),
        table_dirs=lambda: [str(data)], input_bytes=150,
        upsert_times=lambda rec: [0.5, 0.7, 0.6])
    rec = types.SimpleNamespace(cycles=[2.0, 2.0],
                                samples={"lookup": [0.1, 0.3, 0.2]})
    got = run.end_to_end(w, rec, 9.0)
    assert [(k, u) for k, (_v, u) in got.items()] == _declared("end_to_end")
    vals = {k: v for k, (v, _u) in got.items()}
    assert vals["cycles_per_s"] == 0.5
    assert vals["upsert_p50_ms"] == 600.0
    assert vals["space_amp"] == 3.0 and vals["write_amp"] == 2.0
    assert abs(vals["lookup_p50_ms"] - 200.0) < 1e-9


def test_tail_is_the_order_statistic_with_ten_beyond():
    xs = list(range(1, 41))
    assert run.tail(xs) == (30, 75.0)
    with pytest.raises(ValueError):
        run.tail(list(range(10)))

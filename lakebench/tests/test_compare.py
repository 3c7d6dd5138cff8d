"""compare.py applies one verdict rule to every metric."""

import json

import compare


def _side(values):
    return list(enumerate(values))


def test_verdicts():
    steady = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    assert compare.verdict(_side(steady), _side([v * 0.8 for v in steady]),
                           "lower", 0.1) == "improved"
    assert compare.verdict(_side(steady), _side([v * 1.3 for v in steady]),
                           "lower", 0.1) == "worse"
    assert compare.verdict(_side(steady), _side([v * 1.05 for v in steady]),
                           "lower", 0.1) == "unchanged"
    # higher-is-better flips the direction
    assert compare.verdict(_side(steady), _side([v * 1.3 for v in steady]),
                           "higher", 0.1) == "improved"
    noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
    assert compare.verdict(_side(noisy), _side([v * 1.05 for v in noisy]),
                           "lower", 0.1) == "unresolved"


def test_reads_run_outputs(tmp_path):
    for side, value in (("p", 100.0), ("c", 150.0)):
        d = tmp_path / side
        d.mkdir()
        for seed in range(3):
            detail = {"workload": "w", "seed": seed, "trace": 0,
                      "end_to_end": {"lookup_p50_ms": value}}
            result = {"correct": True, "attempted": 1, "failed": 0,
                      "metrics": {"lookup_p50_ms": {"value": value, "unit": "ms"}}}
            (d / f"{seed}.out").write_text(
                "spark noise\n" + json.dumps({"detail": detail}) + "\n"
                + json.dumps(result) + "\n")
    bench = tmp_path / "bench.json"
    bench.write_text(json.dumps({"end_to_end": [
        {"name": "lookup_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}],
        "per_layer": []}))
    runs = compare.load_runs(str(tmp_path / "p"))
    assert [s for s, _m, _e in runs[("w", 0)]] == [0, 1, 2]
    assert compare.main([str(tmp_path / "p"), str(tmp_path / "c"),
                         "--bench", str(bench)]) == 1  # worse
    assert compare.main([str(tmp_path / "p"), str(tmp_path / "p"),
                         "--bench", str(bench)]) == 0

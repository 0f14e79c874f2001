"""Tests of the benchmark's own pure logic (no Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pytest

from perfbench import gen
from perfbench.checks import kv_sink_problems
from perfbench.harness import (
    Run, Window, emit_end_to_end, interquartile_mean, mean_by_kind, parse_size_metric,
    percentile, samples_beyond, summarize, tail_percentile, valid_metric_name, valid_unit,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert samples_beyond(n, want) >= 10


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_count_and_supported_tail():
    s = summarize([float(i) for i in range(40)])
    assert s["n"] == 40 and s["p50"] == 19.5 and s["p75"] == 29.0
    assert "p90" not in s
    assert summarize([]) == {"n": 0}


def test_interquartile_mean_drops_a_quarter_at_each_end():
    assert interquartile_mean([3.0]) == 3.0
    assert interquartile_mean([1.0, 2.0, 3.0]) == 2.0
    assert interquartile_mean([100.0, 1.0, 2.0, 3.0, 4.0, -50.0, 2.5, 3.5]) == 2.75


def test_mean_by_kind_weighs_each_kind_once():
    assert mean_by_kind({"a": [1.0] * 9, "b": [3.0]}) == 2.0
    assert mean_by_kind({"a": [], "b": [4.0]}) == 4.0
    assert mean_by_kind({"a": []}) is None


def _window(wall: float, ops: int) -> Window:
    w = Window()
    w.wall, w.ops = wall, ops
    return w


def test_end_to_end_metrics_are_scaled_by_host_speed():
    run = Run("w", 1, 10, False)
    emit_end_to_end(run, _window(10.0, 20), {"q": [1.0, 1.0]}, [], 20, speed=0.5)
    assert run.metrics["op_latency_s"] == (0.5, "s")
    assert run.metrics["ops_per_s"] == (4.0, "1/s")
    assert run.detail["unscaled"]["op_latency_s"] == 1.0


def test_a_workload_whose_every_operation_fails_still_reports():
    run = Run("w", 1, 10, False)
    for _ in range(3):
        run.op(False, "q raised")
    emit_end_to_end(run, _window(6.0, 3), {"q": []}, [2.0, 2.0, 2.0], 0, speed=1.0)
    result = run.result(["op_latency_s", "ops_per_s"])
    assert result["correct"] is False and result["failed"] == result["attempted"] == 3
    assert result["metrics"]["op_latency_s"]["value"] == 2.0
    assert result["metrics"]["ops_per_s"]["value"] > 0


def test_window_adds_up_segments():
    w = Window()
    w.resume()
    w._t -= 2.0
    w.pause()
    w.resume()
    w._t -= 1.0
    w.pause()
    assert 2.99 < w.wall < 3.1 and w.first <= w.last


def test_parse_size_metric_reads_the_total():
    assert parse_size_metric("8.0 MiB") == 8 * 2**20
    assert parse_size_metric(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 512.0 B, 1024.0 B (stage 3.0: task 7))"
    ) == 1.5 * 2**10
    assert parse_size_metric("") == 0.0


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_is_deterministic_and_seed_changes_content_only(tmp_path, workload):
    a = gen.generate(str(tmp_path / "a"), workload, 7)
    b = gen.generate(str(tmp_path / "b"), workload, 7)
    c = gen.generate(str(tmp_path / "c"), workload, 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    # same row counts for every table and text file, whatever the seed
    assert {k: v["rows"] for k, v in a["tables"].items()} == {
        k: v["rows"] for k, v in c["tables"].items()
    }
    assert [t["rows"] > 0 for t in a["text_files"]] == [t["rows"] > 0 for t in c["text_files"]]
    for t in a["tables"].values():
        assert t["rows"] > 0 and t["bytes"] > 0
    assert b["tables"] == a["tables"]


def test_build_reuses_the_cached_manifest(tmp_path):
    m1 = gen.build(str(tmp_path), "dedup_text", 3)
    stamp = os.path.getmtime(os.path.join(m1["sf_dir"], "documents.parquet"))
    m2 = gen.build(str(tmp_path), "dedup_text", 3)
    assert m1 == m2
    assert os.path.getmtime(os.path.join(m2["sf_dir"], "documents.parquet")) == stamp


def test_benchmark_json_follows_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(valid_metric_name(n) for n in names)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert valid_unit(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) and max(bounds.values()) <= 0.25
    from perfbench.run import WORKLOADS

    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


def test_metric_name_rules():
    assert valid_metric_name("jobs.queue_wait_s.p50")
    assert not valid_metric_name("_leading")
    assert not valid_metric_name("has space")
    assert not valid_metric_name("x" * 65)
    assert valid_unit("1/s") and valid_unit("count") and not valid_unit("")


def _write_parts(out, parts):
    os.makedirs(out, exist_ok=True)
    for i, lines in enumerate(parts):
        with open(os.path.join(out, f"part-0000{i}.txt"), "w") as f:
            f.write("".join(f"{line}\n" for line in lines))


EXPECTED = Counter({"apple": 3, "kiwi": 1, "pear": 2, "plum": 5})


def test_kv_sink_checker_accepts_the_reference_contract(tmp_path):
    _write_parts(tmp_path, [["apple 3", "pear 2"], ["kiwi 1"], ["plum 5"]])
    assert kv_sink_problems(str(tmp_path), 3, EXPECTED) == []


def test_kv_sink_checker_rejects_a_missing_key(tmp_path):
    _write_parts(tmp_path, [["apple 3", "pear 2"], ["kiwi 1"], []])
    assert any("missing" in p and "1 missing" in p for p in kv_sink_problems(str(tmp_path), 3, EXPECTED))


def test_kv_sink_checker_rejects_a_duplicated_key(tmp_path):
    _write_parts(tmp_path, [["apple 3", "pear 2"], ["kiwi 1", "pear 2"], ["plum 5"]])
    assert any("repeated" in p for p in kv_sink_problems(str(tmp_path), 3, EXPECTED))


def test_kv_sink_checker_rejects_unsorted_and_wrong_part_count(tmp_path):
    _write_parts(tmp_path, [["pear 2", "apple 3"], ["kiwi 1", "plum 5"]])
    problems = kv_sink_problems(str(tmp_path), 3, EXPECTED)
    assert any("not sorted" in p for p in problems)
    assert any("part files" in p for p in problems)

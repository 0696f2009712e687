"""The benchmark's own tests: output contract, result check, layer collector.

Run from the repository root: ``python3 -m pytest perfbench -q``. Each test
drives ``run.main`` end to end on a shrunken workload (one set-up, a few
entries), so it starts and stops its own Spark driver.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture
def tiny(monkeypatch):
    """A one-pass run of the given entries on sf0.002 inputs."""

    def use(*entries: str) -> None:
        monkeypatch.setitem(run.WORKLOADS, "tiny", entries)
        monkeypatch.setattr(run, "SF_PER_REPLICA", 0.001)
        monkeypatch.setattr(run, "SETTLE_S", 0.0)
        monkeypatch.setattr(run, "MIN_PASSES", 1)

    return use


def _result(capsys, *argv: str) -> tuple[dict, str]:
    assert run.main(["--workload", "tiny", "--seconds", "0", *argv]) == 0
    out = capsys.readouterr().out
    return json.loads(out.strip().splitlines()[-1]), out


def _check_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_tiny_run_prints_every_metric_with_its_unit(tiny, capsys):
    tiny("q1_pricing_summary", "word_count")
    result, out = _result(capsys, "--seed", "1", "--trace", "0")
    _check_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 4  # one warm-up pass and one timed pass
    got = result["metrics"]
    # the tail is the slowest entry's median latency, p50 the median entry's
    assert got["latency_tail_s"]["value"] >= got["latency_p50_s"]["value"]
    for m in SPEC["end_to_end"]:
        assert f"\n{m['name']} " in out  # human-readable line, name + unit
    assert "run_record " in out and "failed_frac 0.0000" in out


def test_wrong_expected_digest_is_a_failed_entry(tiny, capsys, monkeypatch):
    tiny("q1_pricing_summary", "top_k_orders")
    real = run.oracle_digests

    def wrong(*args, **kw):
        got = real(*args, **kw)
        got["top_k_orders"] = "0" * 64
        return got

    monkeypatch.setattr(run, "oracle_digests", wrong)
    result, out = _result(capsys, "--seed", "2", "--trace", "0")
    assert not result["correct"]
    assert result["failed"] == 2  # the warm-up and the timed run
    assert result["metrics"]["verified_frac"]["value"] == 0.5
    assert "failing: ['top_k_orders']" in out


def test_layer_collector_sees_kernel_init_run_and_sort_fallback(tiny, capsys):
    tiny("dedup_minhash_lsh")
    result, out = _result(capsys, "--seed", "3", "--trace", "1")
    _check_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["functions.py_init_s"] > 0
    assert m["functions.py_run_s"] > 0
    assert m["operators.agg_sort_fallback_tasks"] > 0
    assert m["session.persisted_rdds_after"] == 0
    path = out.split("trace written to ")[1].splitlines()[0]
    with open(path) as f:
        spans = json.load(f)["spans"]
    entry = [s for s in spans if s["name"] == "dedup_minhash_lsh"]
    assert len(entry) == 1 and entry[0]["attrs"]["functions.py_run_s"] > 0
    kids = {s["name"] for s in spans if s["parent"] == entry[0]["id"]}
    assert kids == {"plans.build", "action"}
    assert all(s["end_s"] >= s["start_s"] for s in spans)


def test_fails_without_the_engine():
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    root = os.path.dirname(HERE)
    scratch = os.path.join(root, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(
            HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__")
        )
        proc = subprocess.run(
            [sys.executable, *SPEC["command"][1:], "--workload", "corpus_kernels",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=170,
        )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

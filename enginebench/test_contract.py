"""Tests of the benchmark itself (not collected by the engine's tier-1 run).

    python3 -m pytest enginebench/test_contract.py -q

The first test runs one short workload end to end, untraced and traced
(a few minutes on four cores), and checks its standard output against
BENCHMARK.json.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd, workload, trace, seconds=2, seed=7):
    return subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _check_line(stdout: str, expected: list[dict]) -> dict:
    lines = stdout.splitlines()
    assert len(lines) == 1, f"stdout carries more than the result: {lines}"
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    assert set(out["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = out["metrics"][m["name"]]
        assert set(got) == {"value", "unit"}
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"])
    return out


@pytest.mark.parametrize("trace", [0, 1])
def test_short_run_meets_the_contract(trace):
    p = _run(ROOT, BENCH["workloads"][0]["name"], trace)
    assert p.returncode == 0, p.stderr[-4000:]
    out = _check_line(p.stdout, BENCH["per_layer" if trace else "end_to_end"])
    assert out["correct"]
    if trace:
        # the only failure a traced run may show: the reader opened before
        # the compaction, whose segment files the compaction removed
        assert out["failed"] == out["metrics"][
            "search.stale_reader_failed"]["value"]
    else:
        assert out["failed"] == 0
        assert all(out["metrics"][m["name"]]["value"] > 0
                   for m in BENCH["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(tmp_path, BENCH["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert p.stdout == ""


def test_fast_oracle_matches_the_constructor():
    from parser_indexer_spark.oracle import OracleIndex
    from enginebench.corpora import build_oracle, make_corpus, phrase_oracle
    for kind in ("docs", "turns"):
        texts = make_corpus(kind, 3, 400).frame["text"].tolist()
        fast, ref = build_oracle(texts), OracleIndex(range(len(texts)), texts)
        assert fast.df == ref.df and fast.cf == ref.cf
        assert fast.avg_dl == ref.avg_dl
        for q in ("spark join", "a the", "w0001 data"):
            assert fast.search(q, k=50) == ref.search(q, k=50)
            assert fast.search(q, k=50, mode="AND") == \
                ref.search(q, k=50, mode="AND")
            assert phrase_oracle(fast, q, 50, 1) == ref.phrase(q, k=50, slop=1)


def test_tied_rankings_are_accepted_in_any_tied_order():
    from enginebench.queries import ranked_ok
    want = [(1, 2.0), (2, 1.0), (3, 1.0), (4, 0.5)]
    assert ranked_ok([(1, 2.0), (3, 1.0)], want, k=2)
    assert not ranked_ok([(1, 2.0), (4, 1.0)], want, k=2)
    assert not ranked_ok([(1, 2.0)], want, k=2)

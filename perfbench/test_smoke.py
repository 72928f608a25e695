"""Smoke test of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its unit on
every workload, that damaged outputs trip the correctness gate, and that
the benchmark refuses to run where the package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as bench  # noqa: E402
from hostinfo import PeakRss  # noqa: E402

SCALE = 0.25
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    with PeakRss() as rss:
        spark = bench.start_spark(work)
        try:
            yield spark, work, rss
        finally:
            bench.stop_spark(spark)


def _run(session, workload: str, seed: int, tamper=None):
    spark, work, rss = session
    return bench.measure(spark, workload, seed, 0.0, True, os.path.join(work, str(seed)),
                         1.0, rss, scale=SCALE, tamper=tamper)


def _printed(metrics: dict, units: dict, meta: dict) -> dict:
    line = json.loads(json.dumps(bench.result_line(metrics, units, meta)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    return line


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(session, workload):
    e2e, layers, meta = _run(session, workload, seed=3)
    assert meta["correct"], meta["failures"]
    for spec_key, metrics, units in (
        ("end_to_end", e2e, bench.END_TO_END),
        ("per_layer", layers, bench.PER_LAYER),
    ):
        line = _printed(metrics, units, meta)
        assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 2
        want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == want
        for name, v in line["metrics"].items():
            assert isinstance(v["value"], (int, float)), name
    for m in SPEC["end_to_end"]:
        assert e2e[m["name"]] > 0, m["name"]


def _rewrite_links(out: dict, edit) -> None:
    path = os.path.join(out["dir"], "links")
    links = edit(pd.read_parquet(path))
    shutil.rmtree(path)
    os.makedirs(path)
    links.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def test_dropped_links_trip_the_gate(session):
    def drop_half(i, out):
        _rewrite_links(out, lambda df: df.iloc[: len(df) // 2])

    e2e, _, meta = _run(session, "records_bipartite", seed=4, tamper=drop_half)
    assert not meta["correct"] and meta["failed"] == meta["attempted"]
    assert all("below the floor" in " ".join(f["failures"]) for f in meta["failures"])
    assert e2e["pairwise_f1"] < 0.9


def test_duplicated_link_trips_the_gate(session):
    def duplicate(i, out):
        _rewrite_links(out, lambda df: pd.concat(
            [df, df.iloc[:1].assign(rid_b=df["rid_b"].iloc[1])]))

    _, _, meta = _run(session, "records_bipartite", seed=5, tamper=duplicate)
    assert meta["failed"] == meta["attempted"]
    assert all("not one-to-one" in " ".join(f["failures"]) for f in meta["failures"])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = SPEC["command"] + ["--workload", "pages_dedup", "--seed", "1",
                             "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""

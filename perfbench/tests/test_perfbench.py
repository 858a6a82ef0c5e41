"""Self-tests of the benchmark (not the program): generator determinism,
oracle invariance across seeds, metric names against BENCHMARK.json, a
smoke run of every workload on the sf0.001 fixture, and a live oracle gate.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke and gate tests start Spark (about a minute each).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            out[t] = fh.read()
    return out


def _oracle_hashes(d: str) -> dict[str, str]:
    import duckdb

    from tools.canon import lines_of, vhash

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    out = {}
    for wl in WORKLOADS.values():
        for step in wl.steps:
            cur = con.execute(step.oracle())
            out[step.name] = vhash(lines_of([c[0] for c in cur.description], cur.fetchall()))
    return out


def test_generator_same_seed_same_bytes_other_seed_same_oracles(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(5, a, "sf0.001")
    gen.generate(5, b, "sf0.001")
    gen.generate(6, c, "sf0.001")
    ba, bb, bc = _bytes(a), _bytes(b), _bytes(c)
    assert ba == bb
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        assert ba[t] != bc[t], t
    assert _oracle_hashes(a) == _oracle_hashes(c)


def test_seed_zero_reproduces_the_fixture(tmp_path):
    import pyarrow.parquet as pq

    out = str(tmp_path / "z")
    gen.generate(0, out, "sf0.001")
    for t in gen.TABLES:
        src = pq.read_table(os.path.join(gen.DATA_DIR, "sf0.001", f"{t}.parquet"))
        assert pq.read_table(os.path.join(out, f"{t}.parquet")).equals(src), t


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def _run(work: str, workload: str, trace: int, cwd: str = ROOT):
    env = dict(os.environ, PERFBENCH_WORK=work)
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "sf0.001"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_every_workload_prints_the_end_to_end_metrics(tmp_path, workload):
    code, res, err = _run(str(tmp_path), workload, 0)
    assert code == 0, err[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


def test_traced_run_prints_the_per_layer_metrics_and_spans(tmp_path):
    code, res, err = _run(str(tmp_path), "curation_ingest", 1)
    assert code == 0, err[-3000:]
    assert list(res["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    got = {k: v["value"] for k, v in res["metrics"].items()}
    for name in ("streaming.batches", "sources.write_files", "operators.jobs",
                 "plans.task_run_s", "operators.stream_exact_dedup.call_s"):
        assert got[name] > 0, name
    spans = glob.glob(str(tmp_path / "out" / "*-spans.json"))
    assert spans
    with open(spans[0]) as fh:
        items = json.load(fh)
    assert {"name", "start", "end", "parent", "run"} <= set(items[0])
    assert any(s["name"] == "step:merge_into_lake" for s in items)


def test_wrong_expected_hash_counts_as_failure(tmp_path):
    work = str(tmp_path)
    code, res, err = _run(work, "tpch_star", 0)
    assert code == 0, err[-3000:]
    (path,) = glob.glob(os.path.join(work, "cache", "oracle-tpch_star-*.json"))
    with open(path) as fh:
        expected = json.load(fh)
    expected["q3"]["hash"] = "0" * 16
    with open(path, "w") as fh:
        json.dump(expected, fh)
    code, res, err = _run(work, "tpch_star", 0)
    assert code != 0
    assert res["correct"] is False
    assert res["failed"] >= 1 and res["failed"] < res["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, res, _ = _run(str(tmp_path / "work"), "tpch_star", 0, cwd=str(tmp_path))
    assert code != 0 and res is None

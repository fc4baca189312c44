"""The benchmark's own tests: every workload and checker through the smoke
mode, the BENCHMARK.json contract, and the checkers' ability to fail.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import inputs  # noqa: E402
from workloads import CURATE_QUERIES, PER_LAYER, WORKLOADS  # noqa: E402

E2E = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
       "call_geomean_s": "s", "peak_mem_mb": "MB"}


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_the_code():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)


def test_curate_queries_are_bench_py_headline_queries():
    import bench

    assert len(set(CURATE_QUERIES)) == len(CURATE_QUERIES)
    assert set(CURATE_QUERIES) <= set(bench.HEADLINE_QUERIES)


def test_generator_canary_is_pinned():
    inputs.check_generator_canary()


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke(workload, trace):
    p = _run("--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = E2E if trace == "0" else dict(PER_LAYER)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".results", "__pycache__"))
    p = _run("--workload", "extract_mixed", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_extraction_check_catches_a_wrong_or_reordered_turn():
    rows = [("conv-000000", i, f"text {i}", i % 3) for i in range(5)]
    oracle = b"".join(checks.turn_digest(*r) for r in rows)
    assert checks.extraction_mismatches(rows, oracle) == 0
    wrong = rows[:2] + [("conv-000000", 2, "other", 2)] + rows[3:]
    assert checks.extraction_mismatches(wrong, oracle) == 1
    assert checks.extraction_mismatches(rows[::-1], oracle) == 4
    assert checks.extraction_mismatches(rows[:4], oracle) == 1


def test_resume_check_catches_duplicates_and_losses(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(pa.table({"conv_id": ["a", "a", "b"], "turn_idx": [0, 1, 0],
                             "text": [" x ", "y", "z  "]}), src / "part-0.parquet")

    def written(rows):
        out = tmp_path / "out"
        shutil.rmtree(out, ignore_errors=True)
        (out / "bucket=0").mkdir(parents=True)
        pq.write_table(pa.table({
            "conv_id": [r[0] for r in rows], "turn_idx": [r[1] for r in rows],
            "extracted_text": [r[2] for r in rows]}), out / "bucket=0" / "p.parquet")
        return out

    good = [("a", 0, "x"), ("a", 1, "y"), ("b", 0, "z")]
    assert checks.resume_mismatches(src, written(good)) == 0
    assert checks.resume_mismatches(src, written(good + [("b", 0, "z")])) == 1
    assert checks.resume_mismatches(src, written(good[:2])) == 1
    assert checks.resume_mismatches(src, written([("a", 0, " x ")] + good[1:])) == 1


def test_rows_digest_is_order_and_case_insensitive_but_value_exact():
    a = checks.rows_digest(["B", "a"], [(1, 2.0000001), (3, "x")])
    b = checks.rows_digest(["a", "b"], [("x", 3), (2.0, 1)])
    assert a == b
    assert checks.rows_digest(["a", "b"], [("x", 3), (2.5, 1)]) != b

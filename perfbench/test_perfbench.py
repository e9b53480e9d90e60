"""The benchmark's own tests: the generator is deterministic, and tiny
``--smoke`` runs print every declared metric, count a deliberately wrong
expectation as failed ops, and refuse to run without the program.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import world as W  # noqa: E402

SPEC = W.WorldSpec(n_docs=300, n_cite=4, n_dangle=1, n_bib=8, n_refs=4, dangle_pool=50)


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, detail, last = proc.stdout.strip().splitlines()
    return json.loads(detail), json.loads(last)


def digest(seed: int, spec: W.WorldSpec, path: str) -> str:
    W.make_world(seed, spec).write_pages(path)
    with open(os.path.join(path, "part-0.parquet"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_byte_identical_world(tmp_path):
    a = digest(7, SPEC, str(tmp_path / "a"))
    assert a == digest(7, SPEC, str(tmp_path / "b"))
    assert a != digest(8, SPEC, str(tmp_path / "c"))


def test_bulk_closed_form_counts_the_dangling_share():
    world = W.make_world(3, SPEC)
    exp, wave = W.expect_bulk(world, W.bulk_seeds(3, world, 10))
    assert exp.waved == len(wave) == exp.processed + exp.failed
    assert exp.failed == sum(1 for i in wave if i >= SPEC.n_docs) > 0
    assert exp.links == exp.processed * (SPEC.n_cite + SPEC.n_dangle)


def test_traced_smoke_run_prints_every_per_layer_metric():
    detail, out = result(run("--workload", "crawl_polite", "--seed", "5", "--trace", "1", "--smoke"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2, detail["ops"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared("per_layer")
    assert set(detail["crossings"]) == {"MapInArrow", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"}
    assert all(c["rows"] > 0 for c in detail["crossings"].values()), detail["crossings"]
    assert all(abs(r) < 1e-6 for r in detail["wall_residual_ms"])
    assert out["metrics"]["politeness.s"]["value"] > 0


def test_wrong_expectation_fails_every_op():
    detail, out = result(
        run("--workload", "crawl_bulk", "--seed", "5", "--trace", "0", "--smoke", "--wrong-expectation")
    )
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 2
    assert all("waved" in op["error"] for op in detail["ops"])
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared("end_to_end")


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run("--workload", "crawl_bulk", "--seed", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout

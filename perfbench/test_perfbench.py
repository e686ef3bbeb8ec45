"""Fast checks of the benchmark itself, at sf0.001.

    python -m pytest perfbench -q

The end-to-end tests run the benchmark command once each (under a minute
each, mostly Spark start-up).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from tracing import Tracer  # noqa: E402

SF = "0.001"


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_seed_zero_is_the_testdata(tmp_path):
    out = gen.generate(SF, 0, str(tmp_path))
    assert _same_files(out, os.path.join(gen.DATA_DIR, f"sf{SF}"))
    sys.path.insert(0, ROOT)
    from tests.conftest import SF_SMALL

    if not os.path.isdir(SF_SMALL):
        pytest.skip("testdata not present")
    assert _same_files(out, SF_SMALL)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate(SF, 7, str(tmp_path / "a"))
    b = gen.generate(SF, 7, str(tmp_path / "b"))
    c = gen.generate(SF, 8, str(tmp_path / "c"))
    assert os.path.basename(a) != os.path.basename(c)  # derived lakes are cached by basename
    assert _same_files(a, b)
    assert not _same_files(a, c)


def test_other_seeds_drop_a_tenth_by_key(tmp_path):
    base = os.path.join(gen.DATA_DIR, f"sf{SF}")
    out = gen.generate(SF, 3, str(tmp_path))
    rows = {t: (pq.read_table(f"{base}/{t}.parquet"), pq.read_table(f"{out}/{t}.parquet"))
            for t in ("orders", "lineitem", "documents", "embeddings")}
    for t in ("orders", "documents", "embeddings"):
        before, after = rows[t]
        assert 0.8 < after.num_rows / before.num_rows < 0.97, t
    kept = set(rows["orders"][1].column("o_orderkey").to_pylist())
    base_li, out_li = rows["lineitem"]
    assert set(out_li.column("l_orderkey").to_pylist()) <= kept
    assert out_li.num_rows == sum(k in kept for k in base_li.column("l_orderkey").to_pylist())
    for t in ("customer", "events", "nation", "part", "region", "supplier"):
        assert filecmp.cmp(f"{base}/{t}.parquet", f"{out}/{t}.parquet", shallow=False), t


def test_tail_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(40)]
    value, pct = run.tail(samples)
    assert sum(s > value for s in samples) == run.TAIL_BEYOND
    assert pct == 75.0
    with pytest.raises(ValueError):
        run.tail(samples[:10])


def test_warm_pass_count_depends_on_the_work_not_the_clock():
    assert run.warm_passes(12, 3.8, 10) == 3
    assert run.warm_passes(40, 3.8, 10) == 11
    assert run.warm_passes(1, 6.5, 8) == run.MIN_WARM_PASSES
    assert run.warm_passes(1, 6.5, 2) * 2 > run.TAIL_BEYOND


def test_self_time_subtracts_children():
    t = Tracer()
    q = t.add("query", 0.0, 10.0)
    t.add("build", 0.0, 4.0, q, q)
    t.add("exec", 4.0, 9.0, q, q)
    assert t.self_times() == {0: 1.0, 1: 4.0, 2: 5.0}


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _check_printed(proc: subprocess.CompletedProcess, declared: list[dict]) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in declared} == {k: v["unit"] for k, v in result["metrics"].items()}
    for m in declared:
        assert any(line.startswith(f"{m['name']} ") and line.endswith(f" {m['unit']}") for line in lines), m["name"]
    assert not [d for d in os.listdir(run.WORK) if d.startswith("run-")], "the run left its work dir behind"
    return result


def test_untraced_run_prints_every_end_to_end_metric():
    proc = _bench("--workload", "star_etl", "--seed", "1", "--seconds", "1", "--trace", "0", "--sf", SF)
    result = _check_printed(proc, _declared()["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "failed_frac 0.000000 ratio" in proc.stdout


def test_traced_run_prints_layers_and_its_spans_add_up():
    proc = _bench("--workload", "build_heavy", "--seed", "2", "--seconds", "1", "--trace", "1", "--sf", SF)
    result = _check_printed(proc, _declared()["per_layer"])
    assert result["metrics"]["sources.cdc.build_jobs"]["value"] > 0
    assert result["metrics"]["plans.jobs"]["value"] == 0  # star_etl's layer is not in this workload
    with open(os.path.join(run.WORK, "traces", "build_heavy-seed2.json")) as fh:
        trace = json.load(fh)
    spans = trace["spans"]
    assert {"setup", "session", "warmup", "cold", "pass", "query", "build", "plan", "exec", "check"} <= {s["name"] for s in spans}
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        phases = [s for s in spans if s["parent"] == q["id"]]
        assert sorted(s["name"] for s in phases) == ["build", "exec", "plan"]
        assert all(s["qid"] == q["qid"] == q["id"] for s in phases)
        assert sum(s["self_s"] for s in phases) == pytest.approx(q["end"] - q["start"], abs=1e-9)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _bench("--workload", "star_etl", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip().startswith("{")

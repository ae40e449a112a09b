"""Self-tests of the benchmark itself. From the checkout root:

    python3 -m pytest perfbench/test_perfbench.py -q

They take a few minutes: every smoke run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
SCRATCH = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")


@pytest.mark.parametrize("make", [corpus.short_docs, corpus.long_html_docs, corpus.curate_docs])
def test_generator_is_deterministic_per_seed(make):
    a, b, c = (corpus.fingerprint(make(40, s)) for s in (1, 1, 2))
    assert a == b
    assert a["sha256"] != c["sha256"]
    assert a["rows"] == 40 and a["text_bytes"] > 0


def test_only_curate_plants_duplicates():
    assert corpus.short_docs(2000, 5)["text"].is_unique
    assert corpus.long_html_docs(20, 5)["html"].is_unique
    cur = corpus.curate_docs(1000, 5)
    n_copies = len(cur) - cur["text"].nunique()
    assert n_copies == int(1000 * corpus.CURATE_EXACT_SHARE)


def _left_running(mark: str) -> list[int]:
    """Live processes whose environment carries ``mark``."""
    found = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    environ = f.read().split(b"\0")
            except OSError:
                continue
            if f"PERFBENCH_SELFTEST_MARK={mark}".encode() in environ:
                found.append(int(name))
    return found


def _run(workload: str, trace: int, cwd: str = ROOT, scale: str = "0.05"):
    env = dict(os.environ, PERFBENCH_SCALE=scale, PERFBENCH_SELFTEST_MARK=str(time.time_ns()))
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace)]
    cmd[0] = sys.executable
    p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    # every process the run started has ended by the time it exits
    assert _left_running(env["PERFBENCH_SELFTEST_MARK"]) == []
    return p


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_the_declared_metrics(workload, trace):
    t0 = time.monotonic()
    p = _run(workload, trace)
    elapsed = time.monotonic() - t0
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    # a tiny corpus: JVM start and code generation are most of the time
    assert elapsed < 150


def test_fails_without_the_program():
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(SPEC["workloads"][0]["name"], 0, cwd=bare)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_job_commit_sequence_matches_job_py():
    """Drift guard: the traced job_commit sequence must produce what
    job.py produces, manifest and sidecar alike."""
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(SCRATCH, "spark-local"))
    import workloads
    from metadata_quality_stack_spark import get_spark

    src = os.path.join(SCRATCH, "pages")
    corpus.write_parquet(corpus.short_docs(150, 9), src)
    by_job, by_bench = os.path.join(SCRATCH, "job"), os.path.join(SCRATCH, "bench")
    subprocess.run([sys.executable, os.path.join(ROOT, "job.py"), "--input", src,
                    "--output", by_job], check=True, capture_output=True, timeout=300)
    spark = get_spark(app_name="perfbench-selftest", master="local[2]", driver_memory="2g")
    try:
        workloads.job_commit(spark, spark.read.parquet(src), by_bench)
        assert workloads.job_outputs(by_job) == workloads.job_outputs(by_bench)
        for name in os.listdir(os.path.join(by_job, "_metrics")):
            a, b = (pd.read_parquet(os.path.join(d, "_metrics", name))
                    for d in (by_job, by_bench))
            key = list(a.columns)
            pd.testing.assert_frame_equal(
                a.sort_values(key).reset_index(drop=True),
                b[key].sort_values(key).reset_index(drop=True),
            )
    finally:
        spark.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)

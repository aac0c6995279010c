"""Self-tests of the benchmark at fixture scale (a few hundred documents).

    python3 -m pytest perfbench -q

Not part of the repository's tier-1 suite: each test starts a JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.05  # crawl_extract: 50 source docs -> 500 pages

sys.path.insert(0, HERE)


def _bench(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def run_ctx(tmp_path_factory):
    import host

    work = str(tmp_path_factory.mktemp("perfbench"))
    host.prepare_env(ROOT, work)
    sys.path.insert(0, ROOT)
    import run as bench

    def make(workload: str):
        args = SimpleNamespace(workload=workload, seed=5, seconds=1, trace=0, scale=SCALE)
        return bench.Run(args, work)

    spark = host.start_session(host.host_cpus(), host.host_cpus(), work)
    yield make, spark
    spark.stop()


def _corrupt(workload: str, out):
    if workload == "crawl_extract":
        return out[:2] + (out[2] + 1,) + out[3:]
    if workload == "docs_to_results":
        os.remove(os.path.join(out.manifest_dir, sorted(os.listdir(out.manifest_dir))[0]))
        return out
    mh, ng, sh, emb = out
    return mh, ng, sh, frozenset(list(emb)[1:])


@pytest.mark.parametrize("workload", ["crawl_extract", "docs_to_results", "near_dup"])
def test_pass_checks_and_corruption_counts(run_ctx, workload):
    make, spark = run_ctx
    run = make(workload)
    run.stage(spark)
    _wall, good = run.one_pass(spark, "t0")
    run.account([("t0", good)])
    assert (run.attempted, run.failed) == (1, 0)
    run.account([("t1", _corrupt(workload, good))])
    assert (run.attempted, run.failed) == (2, 1)


def test_end_to_end_result_contract():
    r = _bench("--workload", "crawl_extract", "--seed", "3", "--seconds", "1",
               "--trace", "0", "--scale", str(SCALE))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2
    assert set(r["metrics"]) == {"setup_s", "wall_s", "docs_per_s", "input_mb_per_s", "peak_rss_mb"}
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_traced_prefix_self_times_sum_to_full_pass():
    r = _bench("--workload", "crawl_extract", "--seed", "4", "--seconds", "1",
               "--trace", "1", "--scale", str(SCALE))
    m = {k: v["value"] for k, v in r["metrics"].items()}
    layers = ["pipeline.scan_s", "pipeline.salt_s", "tokenize.s", "blocks.s",
              "classify.s", "pipeline.sink_s"]
    assert sum(m[k] for k in layers) == pytest.approx(m["trace.self_sum_s"], rel=0.10)
    assert m["checkpoint.buckets"] == 16 and m["tokenize.nodes"] > 0 and m["scaling_eff"] > 0
    with open(os.path.join(HERE, "out", "trace-crawl_extract-s4.json")) as fh:
        spans = json.load(fh)["spans"]
    assert {s["name"] for s in spans} >= set(layers) | {"results.s", "checkpoint.s"}


def test_exits_nonzero_without_the_library(tmp_path):
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "out"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""

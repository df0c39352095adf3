"""Self-test of the benchmark harness on tiny inputs.

Run from the root of the repository:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

It runs each workload once at the tiny scale (about 300 documents and a
two-batch warehouse), checks that every metric BENCHMARK.json names is
printed with its unit, and checks that Spark jobs submitted from a
``ThreadPoolExecutor`` inside a span are attributed to that span.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from trace import Tracer, JobCounter, self_jobs  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("warehouse", 0), ("corpus", 1)])
def test_every_metric_printed_with_unit(workload, trace):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_thread_pool_jobs_attributed_to_enclosing_span():
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[2]").appName("perfbench-selftest").getOrCreate()
    try:
        tr = Tracer(JobCounter(spark), traced=True)
        spark.range(10).count()  # job before any span
        with tr.span("outer", "layer.a"):
            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = [pool.submit(lambda i=i: spark.range(100 * (i + 1)).count())
                        for i in range(3)]
                assert [f.result() for f in futs] == [100, 200, 300]
            with tr.span("inner", "layer.b"):
                spark.range(5).count()
        spark.range(10).count()  # job after every span
        jobs = self_jobs(tr.spans)
        outer, inner = tr.spans
        assert len(jobs[inner["id"]]) >= 1
        assert len(jobs[outer["id"]]) >= 3
        assert not set(jobs[outer["id"]]) & set(jobs[inner["id"]])
        assert outer["job1"] - outer["job0"] == len(jobs[outer["id"]]) + len(jobs[inner["id"]])
    finally:
        spark.stop()

"""Benchmark entry point: one workload, one process, one closed-loop client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 5 --trace 0

The run starts one Spark session at ``local[nproc]`` with its own
``TMPDIR``, Spark local dir and stream scratch root under
``.perfbench_run/`` in the checkout (all deleted at exit), stages the
seeded inputs, runs ``WARMUP`` untimed warm-up passes over the same
inputs, then timed passes until ``--seconds`` have elapsed (at least
one). Every pass starts from an empty warehouse, store or index. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. ``--spans FILE``
also writes the traced spans as JSON.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Untimed warm-up passes before the timed ones; perfbench/README.md has
# the warm-up curve and why it is one.
WARMUP = 1
MIN_TIMED = 1
LAYER_FIELDS = {"wall_s": "s", "build_s": "s", "jobs": "count", "task_cpu_s": "s",
                "idle_core_s": "s", "shuffle_mb": "MB"}
EXTRA = {
    "functions.dedup.pair_candidates": "count",
    "functions.dedup.pair_survival": "ratio",
    "functions.similarity.fit_jobs": "count",
    "functions.similarity.fit_s": "s",
    "functions.similarity.recall_at_10": "ratio",
    "streaming.events.commit_s": "s",
    "streaming.corpus.commit_s": "s",
    "streaming.ann.compact_s": "s",
    "unattributed.wall_s": "s",
    "unattributed.jobs": "count",
    "trace.overhead_pct": "%",
    "host.steal_pct": "%",
    "host.probe_s": "s",
    "host.loadavg": "runnable",
}


def per_layer_names() -> dict[str, str]:
    from workloads import LAYERS

    out = {}
    for layers in LAYERS.values():
        for layer in layers:
            for f, unit in LAYER_FIELDS.items():
                out[f"{layer}.{f}"] = unit
    out.update(EXTRA)
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("warehouse", "corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="write the traced spans to this JSON file")
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="input size; 'tiny' is for the self-test")
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir`` before the session starts."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "local"), os.path.join(run_dir, "stream")):
        os.makedirs(d, exist_ok=True)
    cpus = str(os.cpu_count() or 1)
    try:
        cpus = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_STREAM_TMP": os.path.join(run_dir, "stream"),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # no hsperfdata files in /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=50",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def outside_writes(before: dict[str, set]) -> list[str]:
    """New entries in the default scratch roots this run must not use."""
    bad = []
    for root, names in before.items():
        now = set(os.listdir(root)) if os.path.isdir(root) else set()
        bad += [os.path.join(root, n) for n in sorted(now - names)]
    return bad


def default_roots() -> dict[str, set]:
    roots = ["/tmp", "/dev/shm/pygrametl_spark_stream"]
    return {r: set(os.listdir(r)) if os.path.isdir(r) else set() for r in roots}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def stop_spark(timeout: float = 30.0) -> None:
    """Stop the session, then wait until the JVM and every Python worker
    it started have exited; kill whatever is still alive at ``timeout``."""
    from pyspark import SparkContext

    import host

    gateway = SparkContext._gateway
    started = [p for p in host.tree_pids(os.getpid()) if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while started:
        started = [p for p in started if host.alive(p)]
        if started and time.monotonic() > deadline:
            for p in started:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import pygrametl_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    roots_before = default_roots()
    prepare_env(run_dir)
    signal.signal(signal.SIGTERM, _terminate)
    try:
        result = run(args, run_dir)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    stray = outside_writes(roots_before)
    if stray:
        result["failed"] += 1
        result["correct"] = False
        print(f"perfbench: wrote outside the run's scratch roots: {stray[:5]}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def run(args, run_dir: str):
    import numpy as np

    import data
    import host
    import metrics
    import workloads
    from trace import JobCounter, StageReader, Tracer, progress_listener

    from pygrametl_spark.session import get_spark

    probe_s = host.cpu_probe()
    spark = get_spark(f"perfbench-{args.workload}")
    listener = progress_listener()
    spark.streams.addListener(listener)
    jobs = JobCounter(spark)
    tracer = Tracer(jobs, traced=False)
    scale = data.Scale() if args.scale == "bench" else data.TINY
    cls = {"warehouse": workloads.Warehouse, "corpus": workloads.Corpus}[args.workload]
    wl = cls(spark, tracer, listener, np.random.default_rng(args.seed), run_dir, scale)
    wl.setup()

    n_pass = 0

    def one_pass(traced: bool, timed: bool = True):
        nonlocal n_pass
        n_pass += 1
        pass_dir = os.path.join(run_dir, "passes", str(n_pass))
        stream_root = os.path.join(run_dir, "stream", str(n_pass))
        os.makedirs(stream_root)
        os.environ["SPARK_GRAFT_STREAM_TMP"] = stream_root
        tracer.traced = traced
        first, cost0 = len(tracer.spans), tracer.cost
        t0 = time.perf_counter()
        with tracer.span("pass"):
            res = wl.run_pass(pass_dir, timed)
        res.wall = time.perf_counter() - t0
        res.trace_cost = tracer.cost - cost0
        res.spans = tracer.spans[first:]
        if not traced:
            del tracer.spans[first:]
        # drop the pass's state outside the timed region
        shutil.rmtree(pass_dir, ignore_errors=True)
        shutil.rmtree(stream_root, ignore_errors=True)
        spark.catalog.clearCache()
        return res

    warm = [one_pass(False, timed=False) for _ in range(WARMUP)]
    setup_s = time.perf_counter() - T_START

    cpu0 = host.cpu_times()
    load0 = host.loadavg()
    timed = []
    t_end = time.perf_counter() + args.seconds
    while len(timed) < MIN_TIMED or time.perf_counter() < t_end:
        timed.append(one_pass(bool(args.trace)))
    steal = host.steal_pct(cpu0, host.cpu_times())
    load = (load0 + host.loadavg()) / 2
    peak = host.tree_hwm_mb(os.getpid())
    wl.check()

    # the first warm-up pass ran before any other pass of this process,
    # so it cannot have replayed anything: the reference job counts
    n_ops, replayed = metrics.replay_guard(warm[0], warm[1:] + timed)
    if args.trace:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        m = metrics.per_layer(timed, StageReader(spark), cpus, per_layer_names(), wl.failures)
        m["host.steal_pct"] = (steal, "%")
        m["host.probe_s"] = (probe_s, "s")
        m["host.loadavg"] = (load, "runnable")
        m.update(wl.layer_extras(timed))
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump([s for r in timed for s in r.spans], fh)
    else:
        m = metrics.end_to_end(timed, setup_s, peak)
    attempted = n_ops + wl.n_checks
    failed = len(replayed) + len(wl.failures)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "warmup_walls_s": [r.wall for r in warm],
                      "pass_walls_s": [r.wall for r in timed],
                      "samples_s": {k: [x for r in timed for x in getattr(r, k)]
                                    for k in ("batch", "query", "microbatch")},
                      "host": {"steal_pct": steal, "loadavg": load, "probe_s": probe_s},
                      "failures": (replayed + wl.failures)[:20]}), file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }
    return result


if __name__ == "__main__":
    sys.exit(main())

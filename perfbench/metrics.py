"""Turns pass samples and spans into the reported metrics."""

from __future__ import annotations

import statistics

from trace import self_intervals, self_jobs


def pct(xs: list[float], q: float) -> float:
    """Inclusive-method percentile, ``q`` in (0, 100)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def replay_guard(ref, passes) -> tuple[int, list[str]]:
    """Ops run over ``passes``, and one message per failed op.

    ``ref`` is the first pass of the process, which ran before any other
    pass could leave state behind. Ops are matched by op id and name; an
    op may run more often than in ``ref`` (the timed passes repeat the
    warehouse reads), and each run is compared with the one in ``ref``.
    An op whose Spark job count differs from the same op in ``ref`` by
    more than ``max(1, 5%)`` fails: a pass
    that replays state an earlier pass left behind launches fewer jobs.
    The tolerance absorbs adaptive query execution, which on these small
    inputs launches one or two jobs more or fewer between identical
    passes depending on which query stage finishes first.
    """
    def op_jobs(res):
        return [((s["op"], s["name"]), s["job1"] - s["job0"]) for s in res.spans if s["is_op"]]

    ref = dict(op_jobs(ref))
    n_ops, bad = 0, []
    for res in passes:
        ops = op_jobs(res)
        n_ops += len(ops)
        if {k for k, _ in ops} != set(ref):
            bad += [f"pass ran ops {sorted({k for k, _ in ops})}, first pass {sorted(ref)}"] * len(ops)
            continue
        bad += [f"replay guard: {k} ran {n} jobs, first pass {ref[k]}" for k, n in ops
                if abs(n - ref[k]) > max(1, 0.05 * ref[k])]
    return n_ops, bad


def end_to_end(passes, setup_s: float, peak_mb: float) -> dict:
    batch = [x for r in passes for x in r.batch]
    query = [x for r in passes for x in r.query]
    micro = [x for r in passes for x in r.microbatch]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "rows_per_s": (statistics.median(r.rows / r.wall for r in passes), "rows/s"),
        "batch_p50_s": (statistics.median(batch), "s"),
        "query_p50_s": (statistics.median(query), "s"),
        "query_p90_s": (pct(query, 90), "s"),
        "microbatch_p50_s": (statistics.median(micro), "s"),
        "microbatch_p90_s": (pct(micro, 90), "s"),
    }


def layer_table(res, stats: dict, cpus: int) -> tuple[dict, float]:
    """Per-layer sums for one traced pass, and the pass span's wall time.

    Spans without a layer (the pass and op spans) are the benchmark's own
    glue and are reported as ``unattributed``.
    """
    spans = res.spans
    own = self_intervals(spans)
    jobs = self_jobs(spans)
    table: dict[str, dict] = {}
    for s in spans:
        layer = s["layer"] or "unattributed"
        row = table.setdefault(layer, {"wall_s": 0.0, "build_s": 0.0, "jobs": 0,
                                       "task_cpu_s": 0.0, "run_s": 0.0, "shuffle_mb": 0.0})
        row["wall_s"] += own[s["id"]]
        if not s.get("materialize"):
            row["build_s"] += own[s["id"]]
        for j in jobs[s["id"]]:
            st = stats[j]
            row["jobs"] += 1
            row["task_cpu_s"] += st["cpu_s"]
            row["run_s"] += st["run_s"]
            row["shuffle_mb"] += st["shuffle_b"] / 2**20
    for row in table.values():
        row["idle_core_s"] = cpus * row["wall_s"] - row.pop("run_s")
    root = spans[0]
    return table, root["end"] - root["start"]


def per_layer(traced, reader, cpus: int, names: dict, failures: list[str]) -> dict:
    """Median over traced passes of each layer metric; every named metric
    is reported, zero for a layer this workload does not call."""
    ids = sorted({j for r in traced for s in r.spans for j in range(s["job0"], s["job1"])})
    stats = reader.job_stats(ids)
    unknown = [j for j in ids if not stats[j]["known"]]
    if unknown:
        failures.append(f"{len(unknown)} jobs missing from the status store")
    tables = []
    for r in traced:
        table, wall = layer_table(r, stats, cpus)
        total = sum(row["wall_s"] for row in table.values())
        if abs(total - wall) > 1e-6 * max(1.0, wall):
            failures.append(f"layer self times sum to {total:.6f}s, pass wall {wall:.6f}s")
        tables.append(table)
    out = {}
    for name, unit in names.items():
        layer, _, field = name.rpartition(".")
        vals = [t[layer][field] for t in tables if layer in t and field in t[layer]]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    # the tracer's own time estimates traced minus untraced pass wall;
    # comparing with a separate untraced pass would measure mostly the
    # pass-to-pass noise, which is larger than the tracing cost
    out["trace.overhead_pct"] = (
        statistics.median(100.0 * r.trace_cost / (r.wall - r.trace_cost) for r in traced), "%")
    return out

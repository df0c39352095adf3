"""Plan-regression guard: scale-critical physical-plan properties.

Every case pins a property that makes the operator viable at 100 TB —
no corpus-sized cartesian products, dimension joins staying broadcast,
filters reaching the parquet scan. A refactor that silently flips a
broadcast join to sort-merge or reintroduces an all-pairs product
fails HERE, at sf0.001, instead of in a cluster bill.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pygrametl_spark.plans.explain import formatted_plan, plan_stats

SF = "/root/testdata/sf0.001"

# query name -> (forbidden physical operators, required plan properties)
CASES = {
    # TPC-H Q1: the shipdate filter must be pushed to the parquet scan.
    "q01_pricing_summary": (["CartesianProduct"], {"pushed_filters": 1}),
    # TPC-H Q5 shape: all five dims broadcast; lineitem never shuffles
    # into a sort-merge join.
    "sql_transforming": (
        ["CartesianProduct", "SortMergeJoin"],
        {"broadcast_joins": 4},
    ),
    # star ETL: dimension lookups broadcast.
    "etl_star_load": (["CartesianProduct"], {"broadcast_joins": 1}),
    # dedup family: bucket formulations — an all-pairs product (plain or
    # broadcast-nested-loop) must never reappear.
    "dedup_minhash_lsh": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    "dedup_ngram_jaccard": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    "embedding_neardup": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    "simhash": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    "neardup_clusters": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    "corpus_curation": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    # quality-ranked survivor selection: corpus joins the (small) cluster
    # relation by equi-key + one window per cluster — never a product.
    "cluster_survivors": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    # seeded shard shuffle: hash projection + per-shard window ONLY — any
    # join at all means the zero-join design regressed.
    "shuffle_shards": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin"],
        {},
    ),
    # SCD as-of interval join: member-key equi-join, never a range-only
    # product over the history.
    "scd_lookupasof": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    # generic as-of: ONE union-tagged window carry, no candidate product.
    "asof_generic": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    # bigram LM score: n-gram count joins, never a product; no
    # row-at-a-time Python anywhere (the global BatchEvalPython check).
    "lm_score": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    # semantic dedup: within-cluster Arrow scoring only — no corpus
    # product (the BNLJ nodes present are kmeans' one-row centroid-array
    # broadcast attaches, so BNLJ itself is not forbidden here).
    "ann_semdedup": (["CartesianProduct"], {}),
    # bucketized range join: hash equi-join on (key, bucket) — the raw
    # non-equi condition would plan as BroadcastNestedLoopJoin.
    "range_join_events": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    # streamed-then-compacted IVF-PQ lifecycle probe (r6): candidate
    # joins are broadcast hash equi-joins on the cluster partition key —
    # never a product over the codes/raw tiers (the BNLJ present is the
    # tiny query×centroid broadcast attach, as in ann_semdedup).
    "ann_ivfpq_compacted": (["CartesianProduct"], {}),
    # ExactSubstr span dedup: span-hash aggregation + equi-join back,
    # never a product over span occurrences; the dup-span table and the
    # per-doc removal table broadcast back so the occ relation and the
    # base corpus are never shuffled for the joins.
    "exact_substring": (
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        {"broadcast_joins": 2},
    ),
    # hashed linear classifier: pure scan-stage projection — any join at
    # all means the broadcast-weights design regressed (the only exchange
    # is catalog.spread's round-robin input spreading, local-only).
    "hashed_classifier": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin", "HashAggregate"],
        {},
    ),
    # Bloom decontamination probe: corpus side is scan-stage only (the
    # bitmap is a literal); no join against the eval relation may appear.
    "bloom_decontam": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin"],
        {},
    ),
    # Gopher rule filter + ftfy normalization (r9): pure scan-stage
    # projections — a join or aggregate appearing at all means the
    # zero-shuffle design regressed.
    "gopher_rules": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin", "HashAggregate", "Exchange"],
        {},
    ),
    "normalize_text": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin", "HashAggregate", "Exchange"],
        {},
    ),
    # inter-doc line dedup (r9): winner selection is a map-side-combined
    # groupBy min + equi-join back on the line key — never a product.
    "line_dedup": (["CartesianProduct", "BroadcastNestedLoopJoin"], {}),
    # URL canonicalization (r9): pure scan-stage projection — zero
    # exchange at any corpus size.
    "url_normalize": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin", "HashAggregate", "Exchange"],
        {},
    ),
    # domain blocklist (r9): the KB-scale blocklist must broadcast — a
    # sort-merge anti-join would shuffle the whole corpus for it.
    "host_blocklist": (
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        {"broadcast_joins": 1},
    ),
    # vocab coverage (r9), literal-vocab mode: in-row array probe + one
    # per-group rollup — any join means the vocab fell out of the row.
    "vocab_coverage": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin"],
        {},
    ),
    # per-language NTILE tiers (r9): below the distributed-rank
    # threshold this is ONE lang-partitioned window — no join may
    # appear (the >1M two-phase path joins per-group stats by design
    # and is pinned by tests/test_selection.py path equivalence).
    "quantile_buckets": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin"],
        {},
    ),
    # DSIR importance scoring (r9): the bucket weights ride in as a
    # dim-entry array literal, so scoring must stay a scan-stage
    # projection like hashed_classifier — no join, no aggregate (the
    # count sidecars are separate bounded jobs at build time).
    "dsir_importance": (
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "SortMergeJoin", "BroadcastHashJoin", "HashAggregate"],
        {},
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_plan_properties(spark, name):
    from pygrametl_spark.queries import ALL_QUERIES

    df = ALL_QUERIES[name](spark, SF)
    plan = formatted_plan(df)
    stats = plan_stats(df)
    forbidden, required = CASES[name]
    # row-at-a-time Python is never acceptable in a hot path — the only
    # Python execution anywhere is Arrow-batched (ArrowEvalPython /
    # FlatMapGroupsInPandas), and none of the guarded queries need even that
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    for op in forbidden:
        assert f") {op}" not in plan, f"{name}: plan contains {op}"
    for key, minimum in required.items():
        assert stats[key] >= minimum, f"{name}: {key}={stats[key]} < {minimum}"


def test_merge_joining_source_broadcasts_small_side(spark):
    """MergeJoiningSource leaves the strategy to Catalyst (VERDICT r2
    item 5): a sub-threshold side must plan as a broadcast hash join,
    and two sides forced above the threshold as sort-merge."""
    from pygrametl_spark.sources.sources import MergeJoiningSource

    big = spark.range(0, 100000).withColumnRenamed("id", "k")
    small = spark.range(0, 10).withColumnRenamed("id", "k2")
    p = formatted_plan(MergeJoiningSource(big, "k", small, "k2"))
    assert "BroadcastHashJoin" in p, "small sorted side must stay broadcastable"

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p2 = formatted_plan(MergeJoiningSource(big, "k", small, "k2"))
        assert "SortMergeJoin" in p2 or "ShuffledHashJoin" in p2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


# ---------------------------------------------------------------------------
# Plan-shaping helpers: the pin heuristic and VALUES local relations must
# change only the plan, never the rows.
# ---------------------------------------------------------------------------


def test_worth_pinning_heuristic(spark):
    from pygrametl_spark.plans.keys import _worth_pinning

    plain = spark.read.parquet(f"{SF}/nation.parquet").select("n_name")
    assert not _worth_pinning(plain)
    assert _worth_pinning(plain.distinct())
    assert _worth_pinning(
        plain.join(spark.range(3).select(F.lit("x").alias("n_name")), "n_name")
    )


def test_dense_keys_identical_with_and_without_pin(spark):
    """assign_dense_keys numbering is independent of the pin decision."""
    from pygrametl_spark.plans.keys import assign_dense_keys

    base = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .select("c_name")
        .distinct()  # -> _worth_pinning True on the default path
    )
    pinned = assign_dense_keys(base, ["c_name"], "k", 100)
    unpinned = assign_dense_keys(base, ["c_name"], "k", 100, approx_count=150)
    assert sorted(pinned.collect()) == sorted(unpinned.collect())


def test_local_relation_value_identity(spark):
    """local_relation must hand back EXACTLY the rows createDataFrame
    would, for every supported literal type — including bit-exact
    doubles (repr round-trip), NaN/Infinity, NULLs, arrays, quotes and
    backslashes in strings."""
    import math

    from pygrametl_spark.plans.local import local_relation

    rows = [
        (1, 0.1 + 0.2, "plain", [1.5, -0.0, 2.0 ** -45], True),
        (-(2 ** 62), float("nan"), "it's a \\ 'quote'", [], False),
        (None, float("inf"), None, None, None),
        (7, float("-inf"), "newline\nand\ttab", [math.pi, 1e-308], True),
    ]
    ddl = "a bigint, b double, c string, d array<double>, e boolean"
    lr = local_relation(spark, rows, ddl)
    cd = spark.createDataFrame(rows, schema=ddl)
    assert lr.schema == cd.schema

    def key(r):
        def f(v):
            if isinstance(v, float):
                return repr(v)  # distinguishes nan/inf, exact bits
            if isinstance(v, list):
                return tuple(repr(x) for x in v)
            return v
        return tuple(repr(f(v)) for v in r)

    assert sorted(map(key, lr.collect())) == sorted(map(key, cd.collect()))


def test_local_relation_is_jvm_only(spark):
    """The point of local_relation: the plan is a LocalTableScan with no
    Python-RDD scan, so downstream actions never spawn Python workers
    for the sidecar."""
    from pygrametl_spark.plans.local import local_relation

    lr = local_relation(spark, [(1, "x"), (2, "y")], "k bigint, v string")
    plan = lr._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "EvalPython" not in plan


def test_local_relation_fallbacks(spark):
    """Empty input, over-cap input, and unsupported literal types all
    fall back to createDataFrame with identical values."""
    from pygrametl_spark.plans.local import local_relation

    assert local_relation(spark, [], "a bigint").count() == 0
    big = [(i,) for i in range(50)]
    capped = local_relation(spark, big, "a bigint", max_values_rows=10)
    assert "ExistingRDD" in capped._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.a for r in capped.collect()) == list(range(50))
    import datetime

    dates = [(datetime.date(2026, 1, 1),), (None,)]
    fb = local_relation(spark, dates, "d date")
    assert sorted(str(r.d) for r in fb.collect()) == ["2026-01-01", "None"]

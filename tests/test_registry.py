"""Registry tests: the tag-union merge mechanism (queries_merged).

- every custom merged builder yields exactly the rows of the default
  call-each-part construction (the DuckDB oracle verifies this every
  parity run; this pins it Spark-side at test speed),
- the registry tables are consistent with each other and with the
  oracles (no Spark session needed),
- merged results do not depend on the core count, and with it on the
  part-construction pool width.
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys

import pytest

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(tuple(str(c) for c in r) for r in df.collect())


@pytest.mark.parametrize(
    "name",
    [
        "scd2_type1_overrides", "sampling_suite", "scd2_build_close",
        "dedup_ngram_jaccard",
    ],
)
def test_shared_builder_matches_generic_union(spark, name):
    """The shared-intermediate (and fused) builders must be row-identical
    to the default per-part construction they replace."""
    from pygrametl_spark.queries import _BUILDERS, ALL_QUERIES, QUERIES
    from pygrametl_spark.queries_merged import MERGES, _default_builder, _merged_query

    assert name in _BUILDERS
    parts = MERGES[name]
    generic = _merged_query(
        _default_builder([(tag, ALL_QUERIES[p]) for tag, p in parts]),
        [tag for tag, _ in parts],
    )
    built, ref = QUERIES[name](spark, SF), generic(spark, SF)
    assert sorted(built.columns) == sorted(ref.columns)
    cols = sorted(ref.columns)
    assert _rows(built.select(cols)) == _rows(ref.select(cols))


def test_merged_builder_tags_are_checked(spark):
    from pygrametl_spark.queries_merged import _merged_query

    one = spark.range(1)
    q = _merged_query(lambda s, d: [("a", one), (("b", "x"), one)], ["a", "b", "c"])
    with pytest.raises(ValueError, match="yielded tags"):
        q(spark, SF)


def test_registry_structure():
    """Static consistency of the registry tables; no Spark session."""
    import duckdb

    from pygrametl_spark import queries as Q
    from pygrametl_spark import queries_data, queries_extra, queries_merged, queries_more
    from pygrametl_spark import queries_shared
    from pygrametl_spark.catalog import TPCH_TABLES
    from pygrametl_spark.queries_merged import MERGES

    # every part resolves to a query and an oracle
    for name, parts in MERGES.items():
        tags = [tag for tag, _ in parts]
        assert len(set(tags)) == len(tags), name
        for _, part in parts:
            assert part in Q.ALL_QUERIES and part in Q.ALL_ORACLES, (name, part)
    # every custom builder keys an existing merge ...
    assert set(Q._BUILDERS) <= set(MERGES)
    # ... and no shared_*/merged_* builder is left unregistered
    registered = set(Q._BUILDERS.values())
    for mod in (Q, queries_data, queries_extra, queries_more, queries_merged, queries_shared):
        for fname, fn in inspect.getmembers(mod, inspect.isfunction):
            if fname.startswith(("shared_", "merged_")) and fn.__module__ == mod.__name__:
                assert fn in registered, f"{mod.__name__}.{fname} is not registered"
    # the driver-facing order: 50 unique names, each with query + oracle
    order = Q._REGISTRY_ORDER
    assert len(order) == 50 and len(set(order)) == 50
    assert list(Q.QUERIES) == order and list(Q.ORACLES) == order
    # every drained-stream part declares its session side effect
    for name, fn in Q.ALL_QUERIES.items():
        if "_memo_stream_gate(" in inspect.getsource(fn):
            assert getattr(fn, "session_side_effect", False), name
    # merges built concurrently: default builder, no side-effecting part
    concurrent = {
        name for name, parts in MERGES.items()
        if name not in Q._BUILDERS
        and not any(
            getattr(Q.ALL_QUERIES[p], "session_side_effect", False) for _, p in parts
        )
    }
    assert concurrent == {
        "ann_lsh_neardup", "ann_ivf_index", "text_analysis", "token_count",
        "curation_guard", "multimodal_pipeline", "sources_roundtrip",
        "project_map_filter", "joining_sources", "steps_suite", "dim_getby",
        "snowflake_lookup_ensure", "fact_suite", "rollup_cube_agg",
        "advanced_aggs", "helpers_suite", "scd_lookupasof", "topk",
    }
    # every merged oracle binds over the fixture tables
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name in MERGES:
        cols = [r[0] for r in con.execute("DESCRIBE " + Q.ORACLES[name]).fetchall()]
        assert cols[0] == "part", name


_CORE_COUNT_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
sys.path.insert(0, sys.argv[1] + "/scripts")
from check_parity import col_kinds, norm_rows
from pygrametl_spark.queries import QUERIES
from pygrametl_spark.session import get_spark

spark = get_spark("core-count")
out = {"parallelism": spark.sparkContext.defaultParallelism}
for name in sys.argv[3].split(","):
    df = QUERIES[name](spark, sys.argv[2])
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    kinds = col_kinds(cols, rows)
    out[name] = {
        "n": len(rows),
        "rows": norm_rows(cols, rows),
        "kinds": {c: sorted(k) for c, k in kinds.items()},
    }
print(json.dumps(out, default=list))
"""

_CORE_COUNT_ENTRIES = [
    "text_analysis", "sampling_suite", "scd2_build_close", "topk", "ann_lsh_neardup",
]


def test_merged_results_invariant_to_core_count():
    """The same merged entries at local[1] (pool width 1: every part
    built in order) and local[4] (parts built concurrently) agree on
    row count, sorted normalized rows and per-column value kinds."""
    results = {}
    for master in ("local[1]", "local[4]"):
        env = dict(os.environ, SPARK_GRAFT_MASTER=master)
        r = subprocess.run(
            [sys.executable, "-c", _CORE_COUNT_CHILD, REPO, SF,
             ",".join(_CORE_COUNT_ENTRIES)],
            capture_output=True, text=True, env=env, timeout=600,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        results[master] = json.loads(r.stdout.strip().splitlines()[-1])
    one, four = results["local[1]"], results["local[4]"]
    assert one.pop("parallelism") == 1 and four.pop("parallelism") == 4
    for name in _CORE_COUNT_ENTRIES:
        assert one[name]["n"] == four[name]["n"], name
        assert one[name]["kinds"] == four[name]["kinds"], name
        assert one[name]["rows"] == four[name]["rows"], name

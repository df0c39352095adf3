"""Source constructors + scalar/date helpers (ref datasources.py, __init__.py)."""

import datetime
import os

from pyspark.sql import functions as F

from pygrametl_spark.functions import helpers
from pygrametl_spark.functions.aggregators import crosstab
from pygrametl_spark.sources.sources import (
    CSVSource,
    DynamicForEachSource,
    HashJoiningSource,
    PEP249Source,
    SQLSource,
    TypedCSVSource,
    UnionSource,
)
from tests.conftest import assert_df_set_equal


def test_csv_sources(spark, tmp_path):
    p = tmp_path / "rows.csv"
    p.write_text("bid,title,genre\n1,Alpha,Poem\n2,Beta,Novel\n")
    df = CSVSource(spark, str(p))
    assert df.columns == ["bid", "title", "genre"]
    assert df.count() == 2
    typed = TypedCSVSource(spark, str(p), {"bid": "int"})
    assert dict(typed.dtypes)["bid"] == "int"


def test_typed_csv_cast_failure_is_null(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("bid\nnot_a_number\n")
    typed = TypedCSVSource(spark, str(p), {"bid": "int"})
    assert typed.first()["bid"] is None


def test_sql_source_with_views_and_names(spark):
    df = spark.createDataFrame([(1, "a")], ["x", "y"])
    out = SQLSource(spark, "SELECT x, y FROM t WHERE x = 1", names=["id", "val"], views={"t": df})
    assert_df_set_equal(out, [(1, "a")], columns=["id", "val"])


def test_pep249_source_driver_read(spark, tmp_path):
    import sqlite3

    db = str(tmp_path / "src.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER, name TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(1, "a"), (2, "b"), (3, None)])
    con.commit()
    con.close()

    out = PEP249Source(
        spark, lambda: sqlite3.connect(db), "SELECT id, name FROM t", names=["key", "val"]
    )
    assert_df_set_equal(out, [(1, "a"), (2, "b"), (3, None)], columns=["key", "val"])


def test_pep249_source_partitioned_read(spark, tmp_path):
    import duckdb

    pq = str(tmp_path / "t.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT i AS id, 'n' || i AS name FROM range(100) r(i)) TO '{pq}'"
    )
    out = PEP249Source(
        spark,
        lambda: duckdb.connect(),
        f"SELECT id, name FROM read_parquet('{pq}') WHERE $CONDITIONS",
        partition_predicates=[f"id % 3 = {i}" for i in range(3)],
    )
    assert out.rdd.getNumPartitions() == 3
    rows = out.collect()
    assert len(rows) == 100
    assert {r["id"] for r in rows} == set(range(100))


def test_union_source_missing_columns(spark):
    a = spark.createDataFrame([(1, "a")], ["x", "y"])
    b = spark.createDataFrame([(2,)], ["x"])
    out = UnionSource(a, b)
    assert_df_set_equal(out, [(1, "a"), (2, None)])


def test_dynamic_for_each(spark, tmp_path):
    for i in range(2):
        (tmp_path / f"f{i}.csv").write_text(f"v\n{i}\n")
    out = DynamicForEachSource(
        [str(tmp_path / "f0.csv"), str(tmp_path / "f1.csv")],
        lambda p: CSVSource(spark, p),
    )
    assert out.count() == 2


def test_hash_joining_overlap_takes_build_side(spark):
    s1 = spark.createDataFrame([(1, "old")], ["k", "v"])
    s2 = spark.createDataFrame([(1, "new")], ["k", "v"])
    out = HashJoiningSource(s1, "k", s2, "k")
    assert out.first()["v"] == "new"  # src2 wins on collision (newrow.update)


def test_crosstab(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], ["r", "c", "v"]
    )
    out = crosstab(df, "r", "c", "v", colvalues=["x", "y"], nonevalue=0)
    assert_df_set_equal(out, [("a", 1, 2), ("b", 3, 0)], columns=["r", "x", "y"])


def test_today_now_frozen(spark):
    df = spark.range(2)
    a = df.select(helpers.today().alias("d"), helpers.now().alias("t")).collect()
    b = df.select(helpers.today().alias("d"), helpers.now().alias("t")).collect()
    assert a == b  # second call reuses the frozen instant
    assert a[0]["d"] == a[1]["d"]


def test_pandas_aggregator_udaf(spark):
    from pygrametl_spark.functions.aggregators import PandasAggregator

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", 10.0), ("b", 2.0), ("b", 4.0)], ["k", "v"]
    )
    med = PandasAggregator("v", lambda s: s.median())
    out = {r["k"]: r["m"] for r in df.groupBy("k").agg(med.column("m")).collect()}
    assert out == {"a": 3.0, "b": 3.0}  # even count -> interpolated middle


def test_cast_helpers(spark):
    df = spark.createDataFrame([("12", "1.5", "true", " pad ")], ["i", "f", "b", "s"])
    out = df.select(
        helpers.getint("i").alias("i"),
        helpers.getfloat("f").alias("f"),
        helpers.getbool("b").alias("b"),
        helpers.getstrippedstr("s").alias("s"),
        helpers.getint(F.lit("bad"), default=-1).alias("d"),
    ).first()
    assert (out["i"], out["f"], out["b"], out["s"], out["d"]) == (12, 1.5, True, "pad", -1)


def test_project_and_renames(spark):
    df = spark.createDataFrame([(1, "a")], ["x", "y"])
    out = helpers.project(df, ["id", "y"], renaming={"id": "x"})
    assert out.columns == ["id", "y"]
    out2 = helpers.renamefromto(df, {"x": "id"})
    assert out2.columns == ["id", "y"]
    out3 = helpers.renametofrom(df, {"id": "x"})
    assert out3.columns == ["id", "y"]


def test_setdefaults(spark):
    df = spark.createDataFrame([(1, None)], "x int, y string")
    out = helpers.setdefaults(df, [("y", "dflt"), ("z", 0)])
    row = out.first()
    assert row["y"] == "dflt" and row["z"] == 0


def test_datespan(spark):
    df = helpers.datespan(spark, "2024-02-28", "2024-03-01")
    rows = sorted(r["dateid"] for r in df.collect())
    assert rows == [20240228, 20240229, 20240301]  # leap year
    first = df.orderBy("dateid").first()
    assert first["monthname"] == "February" and first["year"] == 2024


def test_datespan_exclusive_bounds(spark):
    df = helpers.datespan(spark, "2024-01-01", "2024-01-03", fromdateincl=False, todateincl=False)
    assert [r["dateid"] for r in df.collect()] == [20240102]


def test_typed_csv_strict_raises_on_bad_cast(spark, tmp_path):
    """strict=True matches the reference's raise-per-bad-row semantics
    (ref datasources.py:123-129) via ANSI cast."""
    import pytest as _pytest

    p = tmp_path / "bad2.csv"
    p.write_text("bid\n7\nnot_a_number\n")
    ok = TypedCSVSource(spark, str(p), {"bid": "int"})
    assert sorted((r["bid"] for r in ok.collect()), key=str) == [7, None]
    with _pytest.raises(Exception, match="CAST_INVALID_INPUT|cannot be cast"):
        TypedCSVSource(spark, str(p), {"bid": "int"}, strict=True).collect()


def test_datespan_expander_hook(spark):
    """expander mirrors ref datespan's row-expander (__init__.py:600-614)
    as a Column-returning hook — no per-row Python."""
    from pyspark.sql import functions as F

    df = helpers.datespan(
        spark, "2024-01-05", "2024-01-07",
        expander=lambda d: {
            "quarter": F.quarter(d).cast("int"),
            "is_weekend": F.dayofweek(d).isin(1, 7),
        },
    )
    rows = {r["dateid"]: (r["quarter"], r["is_weekend"]) for r in df.collect()}
    # 2024-01-06/07 are Sat/Sun
    assert rows == {20240105: (1, False), 20240106: (1, True), 20240107: (1, True)}


def test_datereader_and_rowfactory(spark):
    """datereader/datetimereader resolve name-mapped attributes to parsed
    Columns (ref __init__.py:519-559); rowfactory iterates dict rows
    (ref __init__.py:385-414)."""
    df = spark.createDataFrame([("2024-02-29", "2024-02-29 13:45:00")], ["d", "ts"])
    reader = helpers.datereader("date_att")
    out = df.select(reader({"date_att": "d"}).alias("parsed")).first()["parsed"]
    import datetime

    assert out == datetime.date(2024, 2, 29)
    treader = helpers.datetimereader("ts")
    got = df.select(treader().alias("p")).first()["p"]
    assert got == datetime.datetime(2024, 2, 29, 13, 45)

    rows = list(helpers.rowfactory(df, names=["d"]))
    assert rows == [{"d": "2024-02-29"}]



def test_catalog_memo_stable_and_mtime_invalidated(spark, tmp_path):
    """The catalog-relation memo hands back the same plan handle for an
    unchanged table and refuses to serve a stale one after a rewrite."""
    from pygrametl_spark.catalog import _catalog_relation

    p = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(p)
    a = _catalog_relation(spark, p)
    b = _catalog_relation(spark, p)
    assert a is b  # same plan handle while the table is unchanged
    assert a.count() == 5
    # rewrite with a different mtime: the memo must not serve the old
    # file index (stale-read guard)
    os.utime(p, (os.path.getmtime(p) + 10, os.path.getmtime(p) + 10))
    spark.range(7).write.mode("overwrite").parquet(p)
    os.utime(p, (os.path.getmtime(p) + 20, os.path.getmtime(p) + 20))
    c = _catalog_relation(spark, p)
    assert c is not a
    assert c.count() == 7

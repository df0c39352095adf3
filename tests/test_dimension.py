"""Dimension operator tests on the reference's `book` fixture
(FIXTURES.md §1; ref tests/tables/test_Dimension.py)."""

import pytest
from pyspark.sql import functions as F

from pygrametl_spark.operators.dimension import Dimension
from tests.conftest import assert_df_set_equal


@pytest.fixture()
def book_dim(spark):
    df = spark.createDataFrame(
        [(1, "Unknown", "Unknown"), (2, "Nineteen Eighty-Four", "Novel"), (3, "Calvin and Hobbes", "Comic")],
        ["id", "title", "genre"],
    )
    return Dimension("book", "id", ["title", "genre"], lookupatts=["title"],
                     defaultidvalue=1, df=df)


def test_lookup_hit_and_default(spark, book_dim):
    batch = spark.createDataFrame([("Calvin and Hobbes",), ("Missing Book",)], ["title"])
    out = book_dim.lookup(batch)
    assert_df_set_equal(out.select("title", "id"),
                        [("Calvin and Hobbes", 3), ("Missing Book", 1)])


def test_lookup_namemapping(spark, book_dim):
    batch = spark.createDataFrame([("Calvin and Hobbes",)], ["name"])
    out = book_dim.lookup(batch, namemapping={"title": "name"})
    assert out.select("id").first()["id"] == 3


def test_ensure_inserts_new_with_dense_keys(spark, book_dim):
    batch = spark.createDataFrame(
        [("Calvin and Hobbes", "Comic"), ("Metro 2033", "Novel"), ("Alpha", "Poem")],
        ["title", "genre"],
    )
    out = book_dim.ensure(batch)
    # new members keyed max+1 onwards in lookupatts order: Alpha=4, Metro 2033=5
    assert_df_set_equal(out.select("title", "id"),
                        [("Calvin and Hobbes", 3), ("Metro 2033", 5), ("Alpha", 4)])
    assert book_dim.df.count() == 5


def test_ensure_is_idempotent(spark, book_dim):
    batch = spark.createDataFrame([("Metro 2033", "Novel")], ["title", "genre"])
    book_dim.ensure(batch)
    book_dim.ensure(batch)
    assert book_dim.df.filter("title = 'Metro 2033'").count() == 1


def test_ensure_rowexpander(spark):
    df = spark.createDataFrame([(1, "a", "x")], ["id", "title", "genre"])
    dim = Dimension(
        "book", "id", ["title", "genre"], lookupatts=["title"],
        rowexpander=lambda d: d.withColumn("genre", F.coalesce("genre", F.lit("Unknown"))),
        df=df,
    )
    batch = spark.createDataFrame([("b", None)], "title string, genre string")
    dim.ensure(batch)
    assert_df_set_equal(dim.df, [(1, "a", "x"), (2, "b", "Unknown")])


def test_getbykey_missing_is_null_row(spark, book_dim):
    out = book_dim.getbykey([3, 99])
    rows = {r["id"]: r for r in out.collect()}
    assert rows[3]["title"] == "Calvin and Hobbes"
    assert rows[99]["title"] is None


def test_getbyvals(spark, book_dim):
    out = book_dim.getbyvals({"genre": "Novel"})
    assert [r["title"] for r in out.collect()] == ["Nineteen Eighty-Four"]


def test_update_overwrites_including_null(spark, book_dim):
    updates = spark.createDataFrame([(3, None)], "id int, genre string")
    book_dim.update(updates)
    row = book_dim.df.filter("id = 3").first()
    assert row["genre"] is None
    assert row["title"] == "Calvin and Hobbes"


def test_insert_with_explicit_keys(spark, book_dim):
    rows = spark.createDataFrame([(10, "New", "Essay")], ["id", "title", "genre"])
    book_dim.insert(rows)
    assert book_dim.df.filter("id = 10").count() == 1


# -- property-based: ensure is idempotent and keys stay dense --------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.lists(st.sampled_from("abcdef"), min_size=1, max_size=6, unique=True),
    batch=st.lists(st.sampled_from("abcdefghij"), min_size=1, max_size=12),
)
def test_ensure_idempotent_dense_keys(spark, seed, batch):
    from pygrametl_spark.plans.keys import assign_dense_keys

    sdf = spark.createDataFrame([(s,) for s in seed], ["name"])
    dim = Dimension("d", "id", ["name"], df=assign_dense_keys(sdf, ["name"], "id", 0))
    bdf = spark.createDataFrame([(b,) for b in batch], ["name"])
    dim.ensure(bdf)
    first = {(r["id"], r["name"]) for r in dim.df.collect()}
    # keys are dense 1..N and names unique
    ids = sorted(i for i, _ in first)
    assert ids == list(range(1, len(first) + 1))
    assert len({n for _, n in first}) == len(first)
    assert {n for _, n in first} == set(seed) | set(batch)
    # second ensure of the same batch changes nothing
    dim.ensure(bdf)
    second = {(r["id"], r["name"]) for r in dim.df.collect()}
    assert second == first


def test_durable_state_survives_fresh_session_reload(spark, tmp_path):
    """Write-through persistence (operators/state.py): mutations persist
    to storage, a NEW Dimension object (fresh-session stand-in) restores
    the identical contents, and old versions are pruned to `keep`."""
    import os

    d = Dimension(
        "dur_dim", "id", ["name", "seg"], lookupatts=["name"],
        df=spark.createDataFrame([(1, "a", "s1")], "id long, name string, seg string"),
    ).durable(str(tmp_path / "dur_dim"))
    d.ensure(spark.createDataFrame([("b", "s2"), ("c", "s3")], ["name", "seg"]))
    d.ensure(spark.createDataFrame([("d", "s4")], ["name", "seg"]))
    want = sorted(tuple(r) for r in d.df.collect())

    d2 = Dimension("dur_dim", "id", ["name", "seg"], lookupatts=["name"])
    d2.restore(spark, str(tmp_path / "dur_dim"))
    assert sorted(tuple(r) for r in d2.df.collect()) == want
    # further mutations on the restored object keep persisting
    d2.ensure(spark.createDataFrame([("e", "s5")], ["name", "seg"]))
    d3 = Dimension("dur_dim", "id", ["name", "seg"], lookupatts=["name"]).restore(
        spark, str(tmp_path / "dur_dim")
    )
    assert d3.df.count() == 5
    # version rotation: at most `keep` (2) versions on disk
    versions = [v for v in os.listdir(tmp_path / "dur_dim") if v.startswith("v")]
    assert len(versions) <= 2


def test_distributed_dense_keys_match_window_path(spark):
    """The two-phase distributed key plan (range partition + per-partition
    offsets — the >1M-row branch) numbers rows identically to the
    single-window plan: dense, contiguous, ordered by the business key."""
    from pygrametl_spark.plans.keys import assign_dense_keys

    rows = [(f"m{i:04d}", i % 7) for i in range(500)]
    sdf = spark.createDataFrame(rows, "name string, grp long").repartition(13)
    small = assign_dense_keys(sdf, ["name"], "id", 100)
    big = assign_dense_keys(sdf, ["name"], "id", 100, approx_count=2_000_000)
    want = {r["name"]: r["id"] for r in small.collect()}
    got = {r["name"]: r["id"] for r in big.collect()}
    assert got == want
    assert sorted(got.values()) == list(range(101, 601))


def test_durable_state_version_diff(spark, tmp_path):
    """StatePersistence.diff audits what a load changed: an update shows
    as one removed + one added row; pure inserts as added only."""
    from pygrametl_spark.operators.state import StatePersistence

    sp = StatePersistence(str(tmp_path / "st"), keep=2)
    sp.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    sp.write(spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "id long, v string"))
    got = sorted(tuple(r) for r in sp.diff(spark).collect())
    assert got == [
        ("added", 2, "B"), ("added", 3, "c"), ("removed", 2, "b"),
    ]
    # explicit out-of-window version raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not retained"):
        sp.read_version(spark, 99)


def test_durable_state_atomic_commit_torn_write(spark, tmp_path):
    """Crash-consistency of the version commit: a writer that dies
    between the parquet write and the version flip (rename) must leave
    the PREVIOUS version as the restorable latest, with no torn state
    visible; the next writer sweeps the staging debris and commits the
    next version normally. A pre-protocol torn ``v{N}`` directory (no
    manifest) is likewise never restored."""
    import os

    from pygrametl_spark.operators.state import StatePersistence

    root = str(tmp_path / "st")
    sp = StatePersistence(root, keep=3)
    sp.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    want = [(1, "a")]

    # crash window: parquet + manifest written to staging, rename never
    # happens (simulated by doing exactly what write() does, then dying)
    staging = os.path.join(root, "_staging_v2_deadbeef")
    spark.createDataFrame([(9, "torn")], "id long, v string").write.mode(
        "overwrite"
    ).parquet(staging)
    with open(os.path.join(staging, "_COMMITTED"), "w") as f:
        f.write("{}")

    # recovery: fresh handle sees only v1. A read-only handle must NOT
    # sweep — constructed concurrently with a live writer it could
    # rmtree the writer's in-flight staging dir; debris is merely
    # invisible to version resolution until the next WRITER sweeps it
    sp2 = StatePersistence(root, keep=3)
    assert sp2.version == 1
    assert sorted(tuple(r) for r in sp2.read_latest(spark).collect()) == want
    assert any(d.startswith("_staging") for d in os.listdir(root))

    # a torn v2 from a pre-protocol writer (partial files, no manifest)
    torn = os.path.join(root, "v2")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.snappy.parquet"), "wb") as f:
        f.write(b"\x00\x01 not a parquet file")
    sp3 = StatePersistence(root, keep=3)
    assert sp3.version == 1  # torn dir is not a committed version
    assert sorted(tuple(r) for r in sp3.read_latest(spark).collect()) == want

    # next write claims v2: sweeps the staging debris, clears the
    # squatter, commits atomically
    out = sp3.write(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert sorted(tuple(r) for r in out.collect()) == [(2, "b")]
    assert not any(d.startswith("_staging") for d in os.listdir(root))
    sp4 = StatePersistence(root, keep=3)
    assert sp4.version == 2
    assert sorted(tuple(r) for r in sp4.read_latest(spark).collect()) == [(2, "b")]


def test_dimension_survives_endload_and_reload(spark, tmp_path):
    """The engine-level durability path: endload persists the dimension
    to the warehouse dir; a fresh session reloads identical contents."""
    from pygrametl_spark.engine import Engine

    d = Dimension(
        "wh_dim", "id", ["name"],
        df=spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
    )
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.register(d)
    eng.endload()
    d.ensure(spark.createDataFrame([("zz",)], ["name"]))  # post-endload mutation
    reloaded = Dimension(
        "wh_dim", "id", ["name"],
        df=spark.read.parquet(str(tmp_path / "wh" / "wh_dim")),
    )
    # the reload reflects the endloaded snapshot, not the later mutation
    assert sorted(tuple(r) for r in reloaded.df.collect()) == [(1, "a"), (2, "b")]


def test_durable_state_pointer_protocol_crash_matrix(spark, tmp_path):
    """The rename-free (object-store-safe) commit: data dir + fsynced
    manifest + one-shot checksummed pointer file. A writer killed at ANY
    of the three windows — after the parquet write, after the manifest,
    or mid-pointer-write (partial pointer) — leaves the PREVIOUS version
    as the restorable latest; reads never sweep (a reader constructed
    mid-commit must not delete a live writer's in-flight dirs); the next
    WRITER sweeps the unreferenced data-dir debris; a completed commit
    is immediately visible. No os.rename is involved anywhere on the
    pointer path."""
    import hashlib
    import json
    import os

    from pygrametl_spark.operators.state import StatePersistence

    root = str(tmp_path / "st")
    sp = StatePersistence(root, keep=3, protocol="pointer")
    sp.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    want = [(1, "a")]
    assert os.path.isfile(os.path.join(root, "p1.json"))
    assert not any(d.startswith("v") for d in os.listdir(root))

    def latest(handle_root):
        h = StatePersistence(handle_root, keep=3, protocol="pointer")
        return h.version, sorted(
            tuple(r) for r in h.read_latest(spark).collect()
        )

    # crash window 1: parquet written, no manifest, no pointer
    d1 = os.path.join(root, "o2_aaaa0001")
    spark.createDataFrame([(9, "torn")], "id long, v string").write.mode(
        "overwrite"
    ).parquet(d1)
    assert latest(root) == (1, want)
    assert os.path.isdir(d1)  # readers leave debris alone (writer sweeps)

    # crash window 2: parquet + manifest written, pointer never written —
    # the manifest alone is NOT the commit point
    d2 = os.path.join(root, "o2_aaaa0002")
    spark.createDataFrame([(9, "torn")], "id long, v string").write.mode(
        "overwrite"
    ).parquet(d2)
    with open(os.path.join(d2, "_COMMITTED"), "w") as f:
        f.write("{}")
    assert latest(root) == (1, want)
    assert os.path.isdir(d2)

    # crash window 3: pointer file exists but is torn mid-write
    # (checksum does not match) — not a commit, reader falls back to v1
    d3 = os.path.join(root, "o2_aaaa0003")
    spark.createDataFrame([(9, "torn")], "id long, v string").write.mode(
        "overwrite"
    ).parquet(d3)
    with open(os.path.join(d3, "_COMMITTED"), "w") as f:
        f.write("{}")
    line = json.dumps({"version": 2, "dir": "o2_aaaa0003"}, sort_keys=True)
    with open(os.path.join(root, "p2.json"), "w") as f:
        f.write(line[: len(line) // 2])  # partial write, no checksum line
    assert latest(root) == (1, want)

    # the squatting torn pointer must not block the next real commit:
    # the next WRITER's sweep removes it (it is not a commit) so the
    # create-exclusive pointer write of the real v2 succeeds, and the
    # same sweep clears the three unreferenced data dirs
    sp2 = StatePersistence(root, keep=3, protocol="pointer")
    out = sp2.write(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert sorted(tuple(r) for r in out.collect()) == [(2, "b")]
    assert latest(root) == (2, [(2, "b")])
    assert not os.path.isdir(d1) and not os.path.isdir(d2)
    assert not os.path.isdir(d3)

    # a VALID complete pointer commits: verify the checksum discipline
    # by reconstructing p2's content and comparing to what write() made
    with open(os.path.join(root, "p2.json")) as f:
        body, digest = f.read().rsplit("\n", 1)
    assert hashlib.sha256(body.encode()).hexdigest() == digest.strip()

    # version rotation prunes pointer + data dir together
    sp2.write(spark.createDataFrame([(3, "c")], "id long, v string"))
    sp2.write(spark.createDataFrame([(4, "d")], "id long, v string"))
    sp3 = StatePersistence(root, keep=3, protocol="pointer")
    sp3.write(spark.createDataFrame([(5, "e")], "id long, v string"))
    names = os.listdir(root)
    assert "p1.json" not in names and "p2.json" not in names
    assert not any(n.startswith(("o1_", "o2_")) for n in names)
    assert latest(root) == (5, [(5, "e")])


def test_durable_state_two_writer_race_pointer(spark, tmp_path):
    """The documented single-writer assumption's failure mode, pinned:
    two handles on one path race the same version number — the pointer
    protocol's create-exclusive pointer write makes the loser FAIL
    LOUDLY (FileExistsError, the POSIX analogue of a lost if-none-match
    conditional PUT) instead of clobbering the winner. The winner's
    commit stays the resolvable latest, readers always see a consistent
    version, the loser's orphaned data dir is unreferenced debris for
    the next sweep, and the loser can proceed after re-syncing to the
    committed history."""
    import os

    import pytest as _pytest

    from pygrametl_spark.operators.state import StatePersistence

    root = str(tmp_path / "race")
    a = StatePersistence(root, keep=3, protocol="pointer")
    b = StatePersistence(root, keep=3, protocol="pointer")
    # both handles believe the next version is v1; A commits first
    a.write(spark.createDataFrame([(1, "winner")], "id long, v string"))
    with _pytest.raises(FileExistsError):
        b.write(spark.createDataFrame([(1, "loser")], "id long, v string"))

    # no corrupted latest: the winner's row is what every reader resolves
    r = StatePersistence(root, keep=3, protocol="pointer")
    assert r.version == 1
    assert [tuple(x) for x in r.read_latest(spark).collect()] == [(1, "winner")]
    # p1.json is the winner's intact checksummed pointer (the loser
    # never got to write a byte of it), and exactly one version exists
    assert r._versions() == [1]
    # the loser's data dir is unreferenced debris, invisible to reads
    orphans = [
        d for d in os.listdir(root)
        if d.startswith("o1_") and d != r._pointer_dirs()[1]
    ]
    assert len(orphans) == 1

    # the loser recovers by re-syncing to the committed history, then
    # commits cleanly as v2 (its first successful write also sweeps the
    # orphaned o1 debris it left behind)
    b.version = b._latest()
    b._swept = False  # fresh sweep now that the winner's commit landed
    b.write(spark.createDataFrame([(2, "retry")], "id long, v string"))
    r2 = StatePersistence(root, keep=3, protocol="pointer")
    assert r2.version == 2
    assert [tuple(x) for x in r2.read_latest(spark).collect()] == [(2, "retry")]
    assert not [
        d for d in os.listdir(root)
        if d.startswith("o1_") and d != r2._pointer_dirs()[1]
    ]


def test_durable_state_protocol_interop_and_dimension_api(spark, tmp_path):
    """A store written under one protocol is readable (and resumable)
    under the other — the version set is the union — and the Dimension
    facade exposes the pointer path via durable(protocol=...)."""
    from pygrametl_spark.operators.state import StatePersistence

    root = str(tmp_path / "mix")
    a = StatePersistence(root, keep=4, protocol="rename")
    a.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    b = StatePersistence(root, keep=4, protocol="pointer")
    assert b.version == 1  # resumes the rename-committed history
    b.write(spark.createDataFrame([(2, "b")], "id long, v string"))
    c = StatePersistence(root, keep=4, protocol="rename")
    assert c.version == 2
    assert sorted(tuple(r) for r in c.read_latest(spark).collect()) == [(2, "b")]
    got = sorted(tuple(r) for r in c.diff(spark).collect())
    assert got == [("added", 2, "b"), ("removed", 1, "a")]

    d = Dimension(
        "ptr_dim", "id", ["name"], lookupatts=["name"],
        df=spark.createDataFrame([(1, "a")], "id long, name string"),
    ).durable(str(tmp_path / "ptr_dim"), protocol="pointer")
    d.ensure(spark.createDataFrame([("b",)], ["name"]))
    d2 = Dimension("ptr_dim", "id", ["name"], lookupatts=["name"]).restore(
        spark, str(tmp_path / "ptr_dim")
    )
    assert d2.df.count() == 2



def test_getbykey_list_uses_local_relation(spark):
    """Dimension.getbykey with a Python key list keeps left-join
    semantics and plans the key probe as a LocalTableScan."""
    from pygrametl_spark.operators.dimension import Dimension

    dim_df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, name string"
    )
    dim = Dimension("d", "id", ["name"], df=dim_df)
    out = dim.getbykey([2, 99])
    rows = {r.id: r.name for r in out.collect()}
    assert rows == {2: "b", 99: None}

"""Store verb contract (SURVEY.md §0.1): the behaviors rounds.py depends on,
as an explicit suite any store implementation must pass. Runs against the
Parquet+JSON SnapStore here; runs against IcebergSnapStore when an Iceberg
catalog is configured (SPARKCRAWL_ICEBERG_CATALOG — never in this sandbox,
where the adapter raises IcebergUnavailable by design)."""

import os

import pytest

from sparkcrawl.snapstore import SnapStore


@pytest.fixture()
def store(tmp_path):
    return SnapStore(str(tmp_path / "store"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_append_chains_and_overwrite_supersedes(spark, store):
    s1 = store.append("t", _df(spark, [(1, "a")]))
    s2 = store.append("t", _df(spark, [(2, "b")]))
    assert store.read(spark, "t", s1).count() == 1
    assert store.read(spark, "t", s2).count() == 2  # append = old + new
    s3 = store.overwrite("t", _df(spark, [(9, "z")]))
    assert store.read(spark, "t", s3).count() == 1  # overwrite supersedes
    # time travel still sees every earlier snapshot unchanged
    assert store.read(spark, "t", s2).count() == 2
    assert store.snapshots("t") == [s1, s2, s3]


def test_parent_pin_orphans_uncommitted_appends(spark, store):
    """rounds.py's crash-safety contract: an append chained from an explicit
    parent must NOT include rows from snapshots after that parent (a crashed
    round attempt's orphans)."""
    s1 = store.append("t", _df(spark, [(1, "a")]))
    store.append("t", _df(spark, [(66, "junk")]))  # crashed attempt's orphan
    s3 = store.append("t", _df(spark, [(2, "b")]), parent=s1)
    got = {r["k"] for r in store.read(spark, "t", s3).collect()}
    assert got == {1, 2}  # junk orphaned


def test_parent_none_starts_fresh_chain(spark, store):
    store.append("t", _df(spark, [(66, "junk")]))  # crashed init attempt
    s2 = store.append("t", _df(spark, [(1, "a")]), parent=None)
    got = {r["k"] for r in store.read(spark, "t", s2).collect()}
    assert got == {1}


def test_round_manifest_is_multi_table_commit_point(spark, store):
    sa = store.append("a", _df(spark, [(1, "x")]))
    sb = store.append("b", _df(spark, [(2, "y")]))
    store.commit_round(0, {"a": sa, "b": sb}, meta={"n": 1})
    # later uncommitted snapshots must be invisible at the round boundary
    store.append("a", _df(spark, [(3, "z")]))
    man = store.round_manifest(0)
    assert man["tables"] == {"a": sa, "b": sb}
    assert store.read_at_round(spark, "a", 0).count() == 1
    assert store.committed_rounds() == [0]


def test_empty_dataframe_snapshot_roundtrip(spark, store):
    s1 = store.overwrite("t", _df(spark, []))
    df = store.read(spark, "t", s1)
    assert df.count() == 0
    assert set(df.columns) == {"k", "v"}


def test_local_commit_interops_with_spark_read(spark, store):
    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.IntegerType()),
                           T.StructField("v", T.StringType())])
    tab = pa.table({"k": pa.array([1], pa.int32()),
                    "v": pa.array(["a"], pa.string())})
    s1 = store.append_local("t", tab, schema)
    assert store.read(spark, "t", s1).count() == 1
    assert store.read_local("t", s1).num_rows == 1


def test_read_pins_manifest_schema(spark, store, job_ids):
    """read takes each snapshot's schema from its manifest: a
    bucket-partitioned append chain reads without a Spark job (no
    per-directory schema inference) and returns exactly what Spark reads
    from each directory; driver-side commits read back the same way."""
    import pyarrow as pa
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(i % 4, i, f"v{i}", [f"l{i}", "x"]) for i in range(24)],
        "bucket int, k long, v string, links array<string>",
    )
    for i in range(3):
        snap = store.append("p", df.filter(df.k % 3 == i), partition_by=["bucket"])
    before = job_ids()
    got = store.read(spark, "p", snap)
    assert job_ids() == before
    dirs = [
        os.path.join(store._tdir("p"), rel)
        for rel in store._load_manifest("p", snap)["files"]
    ]
    assert len(dirs) == 3
    per_dir = [spark.read.parquet(d) for d in dirs]
    cols = per_dir[0].columns
    assert all(set(d.columns) == set(got.columns) for d in per_dir)
    want = sorted(tuple(r) for d in per_dir for r in d.select(*cols).collect())
    assert sorted(tuple(r) for r in got.select(*cols).collect()) == want
    assert len(want) == 24

    schema = T.StructType([T.StructField("k", T.IntegerType()),
                           T.StructField("v", T.StringType())])
    for k in (1, 2):
        s = store.append_local("l", pa.table({"k": pa.array([k], pa.int32()),
                                              "v": pa.array([f"v{k}"], pa.string())}),
                               schema)
    assert sorted(tuple(r) for r in store.read(spark, "l", s).collect()) == [
        (1, "v1"), (2, "v2")]


def test_expire_snapshots_keeps_live_reads_and_removes_orphans(spark, store, tmp_path):
    """Expiry must delete superseded + orphaned data dirs while the kept
    snapshot reads identically (VERDICT r2 #5)."""
    import os

    s1 = store.append("t", _df(spark, [(1, "a")]))
    store.append("t", _df(spark, [(66, "junk")]))  # will be orphaned
    s3 = store.append("t", _df(spark, [(2, "b")]), parent=s1)
    before = {tuple(r) for r in store.read(spark, "t", s3).collect()}
    # simulate a crashed attempt: data dir with no manifest at all
    orphan = os.path.join(store._tdir("t"), "data", "99999999-deadbeef")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").close()
    res = store.expire_snapshots("t", keep_last=1)
    assert store.snapshots("t") == [s3]
    assert "data/99999999-deadbeef" in res["removed_dirs"]
    after = {tuple(r) for r in store.read(spark, "t", s3).collect()}
    assert after == before == {(1, "a"), (2, "b")}
    # every remaining data dir is referenced by the kept snapshot
    live = set(store._load_manifest("t", s3)["files"])
    on_disk = {
        os.path.join("data", d)
        for d in os.listdir(os.path.join(store._tdir("t"), "data"))
    }
    assert on_disk == live


def test_compact_then_read_equality(spark, store):
    """Compaction rewrites an N-dir append chain into one dir with identical
    rows; expiry afterwards reclaims the old chain."""
    import os

    for i in range(5):
        store.append("t", _df(spark, [(i, f"v{i}")]), partition_by=None)
    before = sorted(tuple(r) for r in store.read(spark, "t").collect())
    n_dirs_before = len(os.listdir(os.path.join(store._tdir("t"), "data")))
    snap = store.compact(spark, "t")
    assert sorted(tuple(r) for r in store.read(spark, "t", snap).collect()) == before
    assert len(store._load_manifest("t", snap)["files"]) == 1
    store.expire_snapshots("t", keep_last=1)
    assert len(os.listdir(os.path.join(store._tdir("t"), "data"))) == 1
    assert sorted(tuple(r) for r in store.read(spark, "t").collect()) == before
    assert n_dirs_before == 5


def test_compact_partitioned_table(spark, store):
    df = spark.createDataFrame(
        [(i % 3, i, f"v{i}") for i in range(12)], "bucket int, k int, v string"
    )
    store.append("t", df, partition_by=["bucket"])
    store.append("t", df.filter("k < 3"), partition_by=["bucket"])
    before = sorted(
        (r["bucket"], r["k"], r["v"]) for r in store.read(spark, "t").collect()
    )
    snap = store.compact(spark, "t")
    after = sorted(
        (r["bucket"], r["k"], r["v"])
        for r in store.read(spark, "t", snap).collect()
    )
    assert after == before


def test_iceberg_adapter_seam(spark):
    """In this sandbox the adapter must refuse loudly; with a configured
    catalog (env SPARKCRAWL_ICEBERG_CATALOG) it must pass the same verbs."""
    from sparkcrawl.iceberg import IcebergSnapStore, IcebergUnavailable

    catalog = os.environ.get("SPARKCRAWL_ICEBERG_CATALOG")
    if not catalog:
        with pytest.raises(IcebergUnavailable):
            IcebergSnapStore(spark, "nosuch_catalog", "crawl", "/tmp/rounds")
        pytest.skip("no Iceberg catalog in sandbox — adapter refusal verified")
    store = IcebergSnapStore(spark, catalog, "crawl_test", "/tmp/rounds")
    s1 = store.append("t_contract", _df(spark, [(1, "a")]))
    s2 = store.append("t_contract", _df(spark, [(2, "b")]))
    assert store.read(spark, "t_contract", s1).count() == 1
    assert store.read(spark, "t_contract", s2).count() == 2
    # parent=None starts a fresh chain (ADVICE r2): prior rows must vanish
    s3 = store.append("t_contract", _df(spark, [(9, "z")]), parent=None)
    got = {r["k"] for r in store.read(spark, "t_contract", s3).collect()}
    assert got == {9}


def test_diff_between_rounds(spark, store):
    """sparkcrawl.diff: key-only anti-join diff between two committed round
    boundaries — appends surface as added rows, overwrites as added+removed,
    and the key is inferred from the schema (url here)."""
    from sparkcrawl.diff import diff_table, infer_key

    def rows(*urls):
        return spark.createDataFrame([(u, len(u)) for u in urls],
                                     "url string, depth int")

    s1 = store.append("f", rows("a", "b"))
    store.commit_round(1, {"f": s1})
    s2 = store.append("f", rows("c"))
    store.commit_round(2, {"f": s2})
    s3 = store.overwrite("f", rows("b", "c", "d"))
    store.commit_round(3, {"f": s3})

    added, removed, key = diff_table(spark, store, "f", 1, 2)
    assert key == ["url"]
    assert sorted(r.url for r in added.collect()) == ["c"]
    assert removed.count() == 0

    added, removed, _ = diff_table(spark, store, "f", 2, 3)
    assert sorted(r.url for r in added.collect()) == ["d"]
    assert sorted(r.url for r in removed.collect()) == ["a"]

    # explicit multi-column key + unknown column rejection
    added, _, key = diff_table(spark, store, "f", 1, 3, key=["url", "depth"])
    assert key == ["url", "depth"]
    with pytest.raises(SystemExit):
        infer_key(rows("x").select("depth"), None)

    # duplicate keys in a snapshot: set semantics — one added KEY, not two
    s4 = store.overwrite("f", spark.createDataFrame(
        [("b", 1), ("c", 1), ("d", 1), ("e", 1), ("e", 2)],
        "url string, depth int"))
    store.commit_round(4, {"f": s4})
    added, removed, _ = diff_table(spark, store, "f", 3, 4)
    assert sorted(r.url for r in added.collect()) == ["e"]
    assert removed.count() == 0

    # uncommitted round boundaries fail cleanly, not with a raw traceback
    with pytest.raises(SystemExit):
        diff_table(spark, store, "f", 3, 99)
    with pytest.raises(SystemExit):
        diff_table(spark, store, "nosuch", 3, 4)

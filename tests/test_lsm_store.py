"""LSM merge-on-read state store (sinks/lsm_store.py).

Coverage intent mirrors the reference's Paimon sink tests
(PaimonSinkITCase / PaimonMetadataApplierTest): append-only commits,
merge-on-read correctness, metadata-only DDL, compaction.
"""

import json
import os

import pytest
from pyspark.sql import functions as F, types as T

from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.sources.envelope import ENVELOPE_SYSTEM_COLUMNS


PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
    ]
)


def _env(spark, rows):
    """rows: (op, before_tuple|None, after_tuple|None, seq)"""
    data = [
        ("db.t", op, before, after, {}, seq) for op, before, after, seq in rows
    ]
    schema = T.StructType(
        [
            T.StructField("__table_id", T.StringType()),
            T.StructField("__op", T.StringType()),
            T.StructField("before", PAYLOAD),
            T.StructField("after", PAYLOAD),
            T.StructField("__meta", T.MapType(T.StringType(), T.StringType())),
            T.StructField("__seq", T.LongType()),
        ]
    )
    return spark.createDataFrame(data, schema)


def _state(spark, tmp_path, **kw):
    return LsmStateStore(spark, str(tmp_path / "lsm"), **kw)


def test_merge_appends_delta_without_rewriting(spark, tmp_path):
    st = _state(spark, tmp_path)
    st.merge("db.t", _env(spark, [("INSERT", None, (1, "a"), 1),
                                  ("INSERT", None, (2, "b"), 2)]), PAYLOAD, ["id"])
    d = st._dir("db.t")
    first = {p for p in os.listdir(d) if p.startswith("delta-")}
    mtimes = {p: os.path.getmtime(os.path.join(d, p)) for p in first}
    st.merge("db.t", _env(spark, [("UPDATE", (1, "a"), (1, "a2"), 3)]), PAYLOAD, ["id"])
    # the first delta was not touched — O(batch), not O(state)
    for p in first:
        assert os.path.getmtime(os.path.join(d, p)) == mtimes[p]
    rows = {r.id: r.name for r in st.read("db.t").collect()}
    assert rows == {1: "a2", 2: "b"}


def test_tombstones_delete_across_commits(spark, tmp_path):
    st = _state(spark, tmp_path)
    st.merge("db.t", _env(spark, [("INSERT", None, (1, "a"), 1),
                                  ("INSERT", None, (2, "b"), 2)]), PAYLOAD, ["id"])
    st.merge("db.t", _env(spark, [("DELETE", (1, "a"), None, 3)]), PAYLOAD, ["id"])
    rows = {r.id for r in st.read("db.t").collect()}
    assert rows == {2}
    # re-insert after tombstone resurrects the key (later commit wins)
    st.merge("db.t", _env(spark, [("INSERT", None, (1, "a3"), 4)]), PAYLOAD, ["id"])
    rows = {r.id: r.name for r in st.read("db.t").collect()}
    assert rows == {1: "a3", 2: "b"}


def test_compaction_folds_and_preserves_state(spark, tmp_path):
    st = _state(spark, tmp_path, compact_every=3)
    for i in range(1, 8):
        st.merge(
            "db.t", _env(spark, [("INSERT", None, (i, f"n{i}"), i)]), PAYLOAD, ["id"]
        )
    m = st._load("db.t")
    assert m["base"] is not None  # compaction ran
    assert len(m["deltas"]) < 3
    rows = {r.id: r.name for r in st.read("db.t").collect()}
    assert rows == {i: f"n{i}" for i in range(1, 8)}


def test_rename_is_metadata_only(spark, tmp_path):
    st = _state(spark, tmp_path)
    st.merge("db.t", _env(spark, [("INSERT", None, (1, "a"), 1)]), PAYLOAD, ["id"])
    d = st._dir("db.t")
    files_before = {
        p: os.path.getmtime(os.path.join(d, p))
        for p in os.listdir(d)
        if p.startswith(("delta-", "base-"))
    }
    st.rename_columns("db.t", [("name", "full_name")])
    # no data file touched
    for p, t in files_before.items():
        assert os.path.getmtime(os.path.join(d, p)) == t
    out = st.read("db.t")
    assert out.columns == ["id", "full_name"]
    assert out.collect()[0].full_name == "a"
    # writes under the new schema merge with renamed history
    new_payload = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("full_name", T.StringType(), True),
        ]
    )
    env2 = (
        _env(spark, [("UPDATE", (1, "a"), (1, "A"), 2)])
        .select(
            "__table_id", "__op",
            F.col("before").cast(new_payload).alias("before"),
            F.col("after").cast(new_payload).alias("after"),
            "__meta", "__seq",
        )
    )
    st.merge("db.t", env2, new_payload, ["id"])
    assert {r.full_name for r in st.read("db.t").collect()} == {"A"}


def test_truncate_is_metadata_only(spark, tmp_path):
    st = _state(spark, tmp_path)
    st.merge("db.t", _env(spark, [("INSERT", None, (1, "a"), 1)]), PAYLOAD, ["id"])
    st.truncate("db.t")
    assert st.read("db.t").count() == 0
    st.merge("db.t", _env(spark, [("INSERT", None, (9, "z"), 2)]), PAYLOAD, ["id"])
    assert {r.id for r in st.read("db.t").collect()} == {9}


def test_add_column_old_commits_null_pad(spark, tmp_path):
    st = _state(spark, tmp_path)
    st.merge("db.t", _env(spark, [("INSERT", None, (1, "a"), 1)]), PAYLOAD, ["id"])
    st.add_columns("db.t", [("extra", T.IntegerType())])
    out = {r.id: (r.name, r.extra) for r in st.read("db.t").collect()}
    assert out == {1: ("a", None)}


def test_partitioned_layout_and_pruned_read(spark, tmp_path):
    """Paimon partition.key semantics: hive-partitioned delta/base layout;
    a filtered read prunes partitions at the scan."""
    import os

    from pyspark.sql import functions as F, types as T

    from flink_cdc_spark.sinks.lsm_store import LsmStateStore
    from flink_cdc_spark.sources.envelope import wrap_as_inserts

    store = LsmStateStore(spark, str(tmp_path), compact_every=100)
    df = spark.createDataFrame(
        [(i, f"n{i}", ["us", "eu", "ap"][i % 3]) for i in range(30)],
        "id long, name string, region string",
    )
    env = wrap_as_inserts(df, "app.t")
    struct = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("region", T.StringType()),
        ]
    )
    store.merge("app.t", env, struct, ["id"], partition_keys=["region"])
    delta = os.path.join(str(tmp_path), "app.t", "delta-00000000")
    assert sorted(
        d for d in os.listdir(delta) if d.startswith("region=")
    ) == ["region=ap", "region=eu", "region=us"]

    full = store.read("app.t")
    assert full.count() == 30
    # read-time predicate prunes partitions BEFORE the merge window
    pruned = store.read("app.t", predicate="region = 'eu'")
    assert pruned.count() == 10
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "region" in plan.split(
        "PartitionFilters: [", 1)[1].split("]", 1)[0]

    # compaction preserves the partitioned layout
    store.compact("app.t")
    m = store._load("app.t")
    base = os.path.join(str(tmp_path), "app.t", f"base-{m['base']:08d}")
    assert any(d.startswith("region=") for d in os.listdir(base))
    assert store.read("app.t").count() == 30


def test_partition_column_rename_survives(spark, tmp_path):
    """RENAME of the partition column: old commit directories keep the old
    directory key name; the read-time rename mapping restores the current
    name, and later commits lay out under it."""
    from pyspark.sql import types as T

    from flink_cdc_spark.sinks.lsm_store import LsmStateStore
    from flink_cdc_spark.sources.envelope import wrap_as_inserts

    store = LsmStateStore(spark, str(tmp_path), compact_every=100)
    struct1 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("region", T.StringType())]
    )
    df1 = spark.createDataFrame([(i, ["us", "eu"][i % 2]) for i in range(10)],
                                struct1)
    store.merge("app.t", wrap_as_inserts(df1, "app.t"), struct1, ["id"],
                partition_keys=["region"])
    store.rename_columns("app.t", [("region", "zone")])
    out = store.read("app.t")
    assert set(out.columns) == {"id", "zone"}
    assert {r.zone for r in out.collect()} == {"us", "eu"}
    # a post-rename commit with the new column name merges consistently
    struct2 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("zone", T.StringType())]
    )
    df2 = spark.createDataFrame([(100, "ap")], struct2)
    store.merge("app.t", wrap_as_inserts(df2, "app.t"), struct2, ["id"])
    rows = {r.id: r.zone for r in store.read("app.t").collect()}
    assert rows[100] == "ap" and rows[0] == "us"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_lone_compacted_base_reads_windowless(spark, tmp_path):
    """A compacted base is the windowed merge itself, one row per key, so
    a read of a fully-compacted table runs no merge window. Multi-part
    reads window; compaction collapses them back to the windowless shape
    with identical content."""
    from flink_cdc_spark.sources.envelope import wrap_as_inserts

    store = LsmStateStore(spark, str(tmp_path), compact_every=100)
    struct = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(6)], struct)
    store.merge("app.t", wrap_as_inserts(df1, "app.t"), struct, ["id"])
    df2 = spark.createDataFrame([(2, "b2"), (9, "b9")], struct)
    store.merge("app.t", wrap_as_inserts(df2, "app.t"), struct, ["id"])
    two = store.read("app.t")
    assert "Window" in _plan(two)  # cross-commit upsert needs the merge
    want = {(0, "a0"), (1, "a1"), (2, "b2"), (3, "a3"), (4, "a4"),
            (5, "a5"), (9, "b9")}
    assert {(r.id, r.v) for r in two.collect()} == want

    store.compact("app.t")
    compacted = store.read("app.t")
    assert "Window" not in _plan(compacted)  # base-only: windowless
    assert {(r.id, r.v) for r in compacted.collect()} == want


def test_lone_delta_resolves_changes_of_one_key(spark, tmp_path):
    """``merge`` writes the batch as it is, several changes of one key
    included, so even a lone delta reads through the window, which keeps
    each key's image with the higher ``__seq`` (INSERT then UPDATE keeps
    the update; UPDATE then DELETE deletes)."""
    st = _state(spark, tmp_path, compact_every=100)
    st.merge("db.t", _env(spark, [
        ("UPDATE", (1, "a"), (1, "a2"), 5),
        ("INSERT", None, (1, "a"), 1),
        ("INSERT", None, (2, "b"), 2),
        ("UPDATE", (2, "b"), (2, "b2"), 3),
        ("DELETE", (2, "b2"), None, 4),
    ]), PAYLOAD, ["id"])
    d = os.path.join(st._dir("db.t"), "delta-00000000")
    assert spark.read.parquet(d).count() == 5  # written as it came
    got = st.read("db.t")
    assert "Window" in _plan(got)
    assert {(r.id, r.name) for r in got.collect()} == {(1, "a2")}


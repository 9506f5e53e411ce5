"""The three lake stores side by side (LSM/Paimon, Iceberg, Hudi): what
they read after a primary-key-changing UPDATE, and how many Spark jobs
each Iceberg and Hudi commit, read and compaction runs."""

import uuid

import pytest
from pyspark.sql import types as T

from flink_cdc_spark.sinks.hudi_sink import (
    COPY_ON_WRITE,
    MERGE_ON_READ,
    HudiTableConfig,
    HudiTableStore,
)
from flink_cdc_spark.sinks.iceberg_store import IcebergTableStore
from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.sources.envelope import envelope_schema

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("v", T.DoubleType(), True),
    ]
)


def _env(spark, rows):
    return spark.createDataFrame(
        [("t", op, b, a, {}, seq) for op, b, a, seq in rows],
        envelope_schema(PAYLOAD),
    )


def _lsm(spark, root, batches):
    st = LsmStateStore(spark, str(root))
    for env in batches:
        st.merge("t", env, PAYLOAD, ["id"])
    return st.read("t")


def _iceberg(spark, root, batches):
    st = IcebergTableStore(spark, str(root))
    st.create_table("t", PAYLOAD, ["id"])
    for env in batches:
        st.commit("t", env, PAYLOAD)
    return st.read("t")


def _hudi(table_type):
    def run(spark, root, batches):
        st = HudiTableStore(spark, str(root))
        st.create_table("t", PAYLOAD, HudiTableConfig(["id"], table_type=table_type))
        for env in batches:
            st.upsert("t", env, PAYLOAD)
        return st.read("t")

    return run


@pytest.mark.parametrize(
    "store, expect",
    [
        # Iceberg's equality delete is keyed on coalesce(before.k, after.k):
        # the UPDATE's before image kills key 1
        (_iceberg, [2]),
        # LSM and Hudi key every row on its written image, so the old key
        # keeps its last image
        (_lsm, [1, 2]),
        (_hudi(MERGE_ON_READ), [1, 2]),
        (_hudi(COPY_ON_WRITE), [1, 2]),
    ],
    ids=["iceberg", "lsm", "hudi-mor", "hudi-cow"],
)
def test_pk_changing_update_per_store(spark, tmp_path, store, expect):
    """INSERT id=1, then UPDATE (1,a) -> (2,a). The stores diverge, and
    each store's own reading is pinned so a shared data path cannot
    silently change either one."""
    batches = [
        _env(spark, [("INSERT", None, (1, "a", 1.0), 1)]),
        _env(spark, [("UPDATE", (1, "a", 1.0), (2, "a", 1.0), 2)]),
    ]
    got = store(spark, tmp_path / "store", batches)
    assert sorted(r.id for r in got.collect()) == expect


def _batches(spark):
    """200 inserts, then 100 updates + 50 deletes."""
    img = lambda i, v: (i, f"n{i % 3}", v)
    first = [("INSERT", None, img(i, float(i)), i) for i in range(200)]
    second = [
        ("UPDATE", img(i, float(i)), img(i, i + 1.0), 1000 + i)
        for i in range(100)
    ] + [("DELETE", img(i, float(i)), None, 2000 + i) for i in range(100, 150)]
    return _env(spark, first), _env(spark, second)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs (a returned DataFrame is collected), counted
    with the status tracker under one job group."""
    sc = spark.sparkContext
    group = f"lake-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        if out is not None and hasattr(out, "collect"):
            out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_store_job_counts_are_pinned(spark, tmp_path):
    """Jobs per Iceberg commit / read / compact (unpartitioned and with an
    identity partition spec) and per Hudi upsert / read / compact. Post-
    write counts and partition values are observed on the write, so no
    commit re-reads what it wrote; an Iceberg read opens each file with
    the schema its manifest recorded and a Hudi read each slice with the
    schema its timeline instant recorded, so neither runs an inference
    job."""
    b1, b2 = _batches(spark)
    got = {}
    for parts in ((), ("name",)):
        st = IcebergTableStore(spark, str(tmp_path / f"ice{len(parts)}"))
        st.create_table("t", PAYLOAD, ["id"], partition_keys=parts)
        got[f"iceberg{'-part' if parts else ''}"] = [
            _jobs(spark, lambda: st.commit("t", b1, PAYLOAD)),
            _jobs(spark, lambda: st.commit("t", b2, PAYLOAD)),
            _jobs(spark, lambda: st.read("t")),
            _jobs(spark, lambda: st.compact("t")),
        ]
    for tt in (MERGE_ON_READ, COPY_ON_WRITE):
        st = HudiTableStore(spark, str(tmp_path / f"hudi-{tt}"))
        st.create_table("t", PAYLOAD, HudiTableConfig(["id"], table_type=tt))
        got[f"hudi-{tt}"] = [
            _jobs(spark, lambda: st.upsert("t", b1, PAYLOAD)),
            _jobs(spark, lambda: st.upsert("t", b2, PAYLOAD)),
            _jobs(spark, lambda: st.read("t")),
            _jobs(spark, lambda: st.compact("t")),
        ]
    # [commit 1, commit 2, read, compact]
    assert got == {
        "iceberg": [4, 4, 2, 2],
        "iceberg-part": [4, 4, 2, 2],
        f"hudi-{MERGE_ON_READ}": [2, 2, 2, 2],
        f"hudi-{COPY_ON_WRITE}": [2, 2, 1, 0],
    }, got


def test_string_partition_value_keeps_its_type(spark, tmp_path):
    """A STRING partition column holding ``"007"`` reads back as ``"007"``
    from a partitioned LSM table (after a merge and after a compaction)
    and a partitioned Iceberg table: each commit file is read with the
    schema it was written with, so hive partition discovery does not
    re-type the directory value as an integer."""
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("code", T.StringType(), True),
    ])
    env = spark.createDataFrame(
        [("t", "INSERT", None, (1, "007"), {}, 1),
         ("t", "INSERT", None, (2, "010"), {}, 2)],
        envelope_schema(schema),
    )
    want = {(1, "007"), (2, "010")}

    def rows(df):
        return {(r.id, r.code) for r in df.collect()}

    lsm = LsmStateStore(spark, str(tmp_path / "lsm"))
    lsm.merge("t", env, schema, ["id"], partition_keys=["code"])
    assert rows(lsm.read("t")) == want
    lsm.compact("t")
    assert lsm._load("t")["deltas"] == []
    assert rows(lsm.read("t")) == want

    ice = IcebergTableStore(spark, str(tmp_path / "ice"))
    ice.create_table("t", schema, ["id"], partition_keys=["code"])
    ice.commit("t", env, schema)
    assert rows(ice.read("t")) == want
    assert rows(ice.read("t", predicate={"code": "007"})) == {(1, "007")}

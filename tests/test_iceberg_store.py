"""Iceberg table-format analog (sinks/iceberg_store.py): immutable
metadata versions, snapshot time travel, field-id renames, equality
deletes."""

import json
import os

import pytest
from pyspark.sql import types as T

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.events import (
    AddColumnEvent,
    CreateTableEvent,
    RenameColumnEvent,
)
from flink_cdc_spark.core.schema import Column, new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.sources.envelope import envelope_schema
from flink_cdc_spark.sinks.iceberg_store import (
    IcebergMetadataApplier,
    IcebergTableStore,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("v", T.DoubleType(), True),
    ]
)

ENV = T.StructType(
    [
        T.StructField("__table_id", T.StringType()),
        T.StructField("__op", T.StringType()),
        T.StructField("before", PAYLOAD),
        T.StructField("after", PAYLOAD),
        T.StructField("__meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("__seq", T.LongType()),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, ENV)


def _store(spark, tmp_path):
    st = IcebergTableStore(spark, str(tmp_path / "ice"))
    st.create_table("db.t", PAYLOAD, ["id"])
    return st


def test_commit_read_roundtrip(spark, tmp_path):
    st = _store(spark, tmp_path)
    s1 = st.commit(
        "db.t",
        _batch(
            spark,
            [
                ("db.t", "INSERT", None, (1, "a", 1.0), {}, 1),
                ("db.t", "INSERT", None, (2, "b", 2.0), {}, 2),
            ],
        ),
        PAYLOAD,
    )
    assert s1 == 1
    state = {r.id: r for r in st.read("db.t").collect()}
    assert state[1].name == "a" and state[2].v == 2.0


def test_equality_delete_and_update_semantics(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.commit(
        "db.t",
        _batch(
            spark,
            [
                ("db.t", "INSERT", None, (1, "a", 1.0), {}, 1),
                ("db.t", "INSERT", None, (2, "b", 2.0), {}, 2),
                ("db.t", "INSERT", None, (3, "c", 3.0), {}, 3),
            ],
        ),
        PAYLOAD,
    )
    st.commit(
        "db.t",
        _batch(
            spark,
            [
                # update kills the seq-1 row but its own insert survives
                ("db.t", "UPDATE", (1, "a", 1.0), (1, "a2", 10.0), {}, 4),
                ("db.t", "DELETE", (2, "b", 2.0), None, {}, 5),
            ],
        ),
        PAYLOAD,
    )
    state = {r.id: r for r in st.read("db.t").collect()}
    assert set(state) == {1, 3}
    assert state[1].name == "a2" and state[1].v == 10.0
    # snapshot summary recorded the equality deletes
    snaps = st.snapshots("db.t")
    assert snaps[1]["summary"]["operation"] == "overwrite"
    assert snaps[1]["summary"]["equality-delete-records"] == 2


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    st = _store(spark, tmp_path)
    s1 = st.commit(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (1, "a", 1.0), {}, 1)]),
        PAYLOAD,
    )
    st.commit(
        "db.t",
        _batch(
            spark,
            [("db.t", "UPDATE", (1, "a", 1.0), (1, "later", 9.0), {}, 2)],
        ),
        PAYLOAD,
    )
    old = st.read("db.t", snapshot_id=s1).collect()
    assert len(old) == 1 and old[0].name == "a" and old[0].v == 1.0
    assert st.read("db.t").collect()[0].name == "later"


def test_rename_is_metadata_only_and_field_id_bound(spark, tmp_path):
    st = _store(spark, tmp_path)
    s1 = st.commit(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (1, "a", 1.0), {}, 1)]),
        PAYLOAD,
    )
    ddir = str(tmp_path / "ice" / "db.t" / "data")
    before = {
        f: os.path.getmtime(os.path.join(ddir, f)) for f in os.listdir(ddir)
    }
    st.rename_column("db.t", "name", "full_name")
    after = {
        f: os.path.getmtime(os.path.join(ddir, f)) for f in os.listdir(ddir)
    }
    assert before == after  # no data file rewritten, none added
    # current read resolves the OLD file's column through the field id
    head = st.read("db.t").collect()[0]
    assert head.full_name == "a"
    # the old snapshot still reads under the schema it recorded
    old = st.read("db.t", snapshot_id=s1).collect()[0]
    assert old.name == "a"


def test_add_column_gets_fresh_field_id_and_null_pads(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.commit(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (1, "a", 1.0), {}, 1)]),
        PAYLOAD,
    )
    st.add_column("db.t", "extra", T.IntegerType())
    meta = st._load("db.t")
    assert meta["last-column-id"] == 4
    cur = st._current_schema(meta)
    assert [f["name"] for f in cur["fields"]] == ["id", "name", "v", "extra"]
    head = st.read("db.t").collect()[0]
    assert head.extra is None  # old file null-pads the new field


def test_metadata_versions_are_immutable(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.commit(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (1, "a", 1.0), {}, 1)]),
        PAYLOAD,
    )
    mdir = str(tmp_path / "ice" / "db.t" / "metadata")
    v2 = open(os.path.join(mdir, "v2.metadata.json")).read()
    st.commit(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (2, "b", 2.0), {}, 2)]),
        PAYLOAD,
    )
    st.rename_column("db.t", "v", "val")
    assert open(os.path.join(mdir, "v2.metadata.json")).read() == v2
    versions = st.metadata_versions("db.t")
    assert versions == [
        "v1.metadata.json", "v2.metadata.json",
        "v3.metadata.json", "v4.metadata.json",
    ]
    assert int(open(os.path.join(mdir, "version-hint.text")).read()) == 4


def test_metadata_applier_drives_store_and_records_sql(spark, tmp_path):
    st = IcebergTableStore(spark, str(tmp_path / "ice2"))
    app = IcebergMetadataApplier(st)
    tid = TableId.parse("db.t2")
    schema = (
        new_schema()
        .physical_column("id", "BIGINT NOT NULL")
        .physical_column("name", "STRING")
        .primary_key("id")
        .build()
    )
    app.apply_schema_change("db.t2", CreateTableEvent(tid, schema))
    app.apply_schema_change(
        "db.t2", AddColumnEvent.last(tid, Column("age", ct.int_()))
    )
    app.apply_schema_change(
        "db.t2", RenameColumnEvent(tid, (("name", "full_name"),))
    )
    meta = st._load("db.t2")
    cur = st._current_schema(meta)
    assert [f["name"] for f in cur["fields"]] == ["id", "full_name", "age"]
    # the catalog DDL a bound engine would execute was generated alongside
    joined = " ".join(app.applied_sql).upper()
    assert "CREATE TABLE" in joined and "RENAME" in joined and "ADD COLUMN" in joined


def test_truncate_is_delete_all_snapshot(spark, tmp_path):
    from flink_cdc_spark.core.events import TruncateTableEvent

    st = _store(spark, tmp_path)
    s1 = st.commit(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (1, "a", 1.0), {}, 1)]),
        PAYLOAD,
    )
    app = IcebergMetadataApplier(st)
    app.apply_schema_change("db.t", TruncateTableEvent(TableId.parse("db.t")))
    assert st.read("db.t").count() == 0
    # old snapshot still time-travels across the truncate
    assert st.read("db.t", snapshot_id=s1).count() == 1
    assert st.snapshots("db.t")[-1]["summary"]["operation"] == "delete"
    # a commit after truncate starts from the empty manifest list
    st.commit(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (9, "z", 9.0), {}, 9)]),
        PAYLOAD,
    )
    assert [r.id for r in st.read("db.t").collect()] == [9]


def test_partitioned_commit_prunes_manifests(spark, tmp_path):
    """partition.key: identity spec recorded per the v2 shape, data files
    hive-partitioned, manifests carry partition-value summaries, and a
    partition predicate prunes at metadata time — including the
    mixed-manifest case where a manifest writes partition X while its
    delete file kills a key in partition Y."""
    st = IcebergTableStore(spark, str(tmp_path / "ice"))
    st.create_table("db.t", PAYLOAD, ["id"], partition_keys=["name"])
    meta = st._load("db.t")
    spec = meta["partition-specs"][0]["fields"]
    assert [f["name"] for f in spec] == ["name"]
    assert spec[0]["transform"] == "identity" and spec[0]["field-id"] == 1000

    st.commit("db.t", _batch(spark, [
        ("db.t", "INSERT", None, (1, "x", 1.0), {}, 1),
        ("db.t", "INSERT", None, (2, "y", 2.0), {}, 2),
        ("db.t", "INSERT", None, (3, "y", 3.0), {}, 3),
    ]), PAYLOAD)
    # second commit: writes in partition x, DELETES id=3 from partition y
    st.commit("db.t", _batch(spark, [
        ("db.t", "INSERT", None, (4, "x", 4.0), {}, 4),
        ("db.t", "DELETE", (3, "y", 3.0), None, {}, 5),
    ]), PAYLOAD)
    meta = st._load("db.t")
    mfs = meta["snapshots"][-1]["manifests"]
    assert mfs[0]["partition-values"] == {"name": ["x", "y"]}
    assert mfs[1]["partition-values"] == {"name": ["x"]}
    assert mfs[1]["delete-partition-values"] == {"name": ["y"]}

    # full read: delete applied
    assert {r.id for r in st.read("db.t").collect()} == {1, 2, 4}
    # partition-pruned reads
    assert {r.id for r in st.read("db.t", predicate={"name": "x"}).collect()} == {1, 4}
    # the y-partition read must still see the delete (mixed manifest)
    assert {r.id for r in st.read("db.t", predicate={"name": "y"}).collect()} == {2}
    # a never-written partition prunes everything
    assert st.read("db.t", predicate={"name": "zz"}).count() == 0


def test_partition_predicate_follows_a_rename(spark, tmp_path):
    """A predicate names the partition column as the read schema does;
    files written before the column was renamed must be filtered too."""
    st = IcebergTableStore(spark, str(tmp_path / "ice"))
    st.create_table("db.t", PAYLOAD, ["id"], partition_keys=["name"])
    st.commit("db.t", _batch(spark, [
        ("db.t", "INSERT", None, (1, "x", 1.0), {}, 1),
        ("db.t", "INSERT", None, (2, "y", 2.0), {}, 2),
    ]), PAYLOAD)
    st.rename_column("db.t", "name", "region")
    got = st.read("db.t", predicate={"region": "x"})
    assert [(r.id, r.region) for r in got.collect()] == [(1, "x")]


def test_partition_values_match_python_predicates(spark, tmp_path):
    """Manifest partition values are recorded as Python renders them,
    the form read() compares a predicate value in: a boolean partition
    prunes by ``True``/``False``, not Spark's ``true``/``false``."""
    flagged = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("hot", T.BooleanType())]
    )
    st = IcebergTableStore(spark, str(tmp_path / "ice"))
    st.create_table("db.f", flagged, ["id"], partition_keys=["hot"])
    env = spark.createDataFrame(
        [("db.f", "INSERT", None, (1, True), {}, 1),
         ("db.f", "INSERT", None, (2, False), {}, 2)],
        envelope_schema(flagged),
    )
    st.commit("db.f", env, flagged)
    assert st.snapshots("db.f")[-1]["manifests"][0]["partition-values"] == {
        "hot": ["False", "True"]
    }
    assert [r.id for r in st.read("db.f", predicate={"hot": True}).collect()] == [1]


def test_cli_iceberg_partition_key_option(spark, tmp_path):
    """`sink: iceberg` accepts partition.key in the per-table syntax
    shared with paimon ('db.t:col') and lays data out partitioned."""
    from flink_cdc_spark.cli import run_pipeline
    from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml

    wh = tmp_path / "wh"
    pipeline = parse_pipeline_yaml(
        f"""
source:
  type: parquet
  path: /root/testdata/sf0.001
  tables: nation
  primary-key.nation: n_nationkey
sink:
  type: iceberg
  catalog.properties.warehouse: {wh}
  partition.key: default.nation:n_regionkey
pipeline:
  name: ice-part
  execution.runtime-mode: BATCH
"""
    )
    run_pipeline(spark, pipeline)
    store = IcebergTableStore(spark, str(wh))
    meta = store._load("default.nation")
    assert [f["name"] for f in meta["partition-specs"][0]["fields"]] == ["n_regionkey"]
    pruned = store.read("default.nation", predicate={"n_regionkey": 1})
    rows = pruned.collect()
    assert rows and all(r.n_regionkey == 1 for r in rows)


def test_compaction_replace_snapshot(spark, tmp_path):
    """compact(): one replace snapshot with a single manifest and no
    delete file; content equals the pre-compaction read; time travel to
    pre-compaction snapshots still resolves their own manifests; commits
    after compaction keep applying deletes on top."""
    st = _store(spark, tmp_path)
    st.commit("db.t", _batch(spark, [
        ("db.t", "INSERT", None, (1, "a", 1.0), {}, 1),
        ("db.t", "INSERT", None, (2, "b", 2.0), {}, 2),
    ]), PAYLOAD)
    s2 = st.commit("db.t", _batch(spark, [
        ("db.t", "UPDATE", (1, "a", 1.0), (1, "a2", 1.5), {}, 3),
        ("db.t", "DELETE", (2, "b", 2.0), None, {}, 4),
        ("db.t", "INSERT", None, (3, "c", 3.0), {}, 5),
    ]), PAYLOAD)
    before = {(r.id, r.name, r.v) for r in st.read("db.t").collect()}
    sc = st.compact("db.t")
    meta = st._load("db.t")
    snap = meta["snapshots"][-1]
    assert snap["summary"]["operation"] == "replace"
    assert len(snap["manifests"]) == 1 and snap["manifests"][0]["delete-file"] is None
    after = {(r.id, r.name, r.v) for r in st.read("db.t").collect()}
    assert after == before == {(1, "a2", 1.5), (3, "c", 3.0)}
    # time travel to the pre-compaction snapshot
    tt = {(r.id, r.name) for r in st.read("db.t", snapshot_id=s2).collect()}
    assert tt == {(1, "a2"), (3, "c")}
    # a post-compaction delete still wins over the compacted file
    st.commit("db.t", _batch(spark, [
        ("db.t", "DELETE", (1, "a2", 1.5), None, {}, 6),
    ]), PAYLOAD)
    assert {r.id for r in st.read("db.t").collect()} == {3}
    assert sc == s2 + 1

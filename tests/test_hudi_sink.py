"""Hudi sink analog (sinks/hudi_sink.py): record key / bucket / precombine
semantics, MOR vs COW layouts, timeline instants, option surface."""

import os

import pytest
from pyspark.sql import types as T

from flink_cdc_spark.sinks.hudi_sink import (
    COPY_ON_WRITE,
    MERGE_ON_READ,
    HudiTableConfig,
    HudiTableStore,
    bucket_id,
    validate_hudi_options,
)

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("ord", T.LongType(), True),
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


def _store(spark, tmp_path, **cfg):
    st = HudiTableStore(spark, str(tmp_path / "hudi"))
    st.create_table("db.t", PAYLOAD, HudiTableConfig(["id"], **cfg))
    return st


def test_bucket_id_matches_java_arithmetic():
    # Java: Arrays.asList("42").hashCode() = 31*1 + "42".hashCode()
    # "42".hashCode() = 31*52 + 50 = 1662
    assert bucket_id(["42"], 100) == (31 + 1662) % 100
    # composite key folds both
    h = 31 * (31 * 1 + 1662) + ("x" == "x") * ord("x")
    assert bucket_id(["42", "x"], 1 << 20) == (h & 0x7FFFFFFF) % (1 << 20)


def test_mor_upsert_delete_roundtrip(spark, tmp_path):
    st = _store(spark, tmp_path, table_type=MERGE_ON_READ)
    st.upsert(
        "db.t",
        _batch(
            spark,
            [
                ("db.t", "INSERT", None, (1, "a", 1), {}, 1),
                ("db.t", "INSERT", None, (2, "b", 1), {}, 2),
            ],
        ),
        PAYLOAD,
    )
    st.upsert(
        "db.t",
        _batch(
            spark,
            [
                ("db.t", "UPDATE", (1, "a", 1), (1, "a2", 2), {}, 3),
                ("db.t", "DELETE", (2, "b", 1), None, {}, 4),
            ],
        ),
        PAYLOAD,
    )
    state = {r.id: r for r in st.read("db.t").collect()}
    assert set(state) == {1} and state[1].name == "a2"
    # timeline: MOR commits are deltacommits, monotone instants
    tl = st.timeline("db.t")
    assert [t["action"] for t in tl] == ["deltacommit", "deltacommit"]
    assert [t["instant"] for t in tl] == [1, 2]


def test_slices_read_with_recorded_schemas_or_inferred(spark, tmp_path):
    """Every instant records the schema its slice was written with, and a
    read opens the slice with it. A timeline from before instants
    recorded schemas still reads, with Spark inferring each slice's."""
    import json

    st = _store(spark, tmp_path, table_type=MERGE_ON_READ)
    st.upsert("db.t", _batch(spark, [
        ("db.t", "INSERT", None, (1, "a", 1), {}, 1),
        ("db.t", "INSERT", None, (2, "b", 1), {}, 2),
    ]), PAYLOAD)
    st.compact("db.t")
    st.upsert("db.t", _batch(spark, [
        ("db.t", "UPDATE", (1, "a", 1), (1, "a2", 2), {}, 3),
        ("db.t", "DELETE", (2, "b", 1), None, {}, 4),
    ]), PAYLOAD)
    want = {(1, "a2", 2)}
    assert {tuple(r) for r in st.read("db.t").collect()} == want
    hoodie = tmp_path / "hudi" / "db.t" / ".hoodie"
    instants = sorted(p for p in hoodie.iterdir() if p.suffix in (".commit", ".deltacommit"))
    assert len(instants) == 3
    for path in instants:
        instant = json.loads(path.read_text())
        assert "_hoodie_record_key" in instant.pop("schema")
        path.write_text(json.dumps(instant))
    assert {tuple(r) for r in st.read("db.t").collect()} == want


def test_precombine_ordering_field_wins_over_arrival(spark, tmp_path):
    st = _store(spark, tmp_path, ordering_field="ord")
    # second arrival has a LOWER ordering value -> first must win
    st.upsert(
        "db.t",
        _batch(
            spark,
            [
                ("db.t", "INSERT", None, (1, "high", 10), {}, 1),
                ("db.t", "INSERT", None, (1, "low", 5), {}, 2),
            ],
        ),
        PAYLOAD,
    )
    state = st.read("db.t").collect()
    assert len(state) == 1 and state[0].name == "high"


def test_cow_rewrites_slice_and_read_skips_merge(spark, tmp_path):
    st = _store(spark, tmp_path, table_type=COPY_ON_WRITE)
    st.upsert(
        "db.t",
        _batch(spark, [("db.t", "INSERT", None, (1, "a", 1), {}, 1)]),
        PAYLOAD,
    )
    st.upsert(
        "db.t",
        _batch(spark, [("db.t", "UPDATE", (1, "a", 1), (1, "a2", 2), {}, 2)]),
        PAYLOAD,
    )
    state = st.read("db.t").collect()
    assert len(state) == 1 and state[0].name == "a2"
    ddir = str(tmp_path / "hudi" / "db.t")
    assert os.path.isdir(os.path.join(ddir, "base-00000001"))
    assert os.path.isdir(os.path.join(ddir, "base-00000002"))
    tl = st.timeline("db.t")
    assert [t["action"] for t in tl] == ["commit", "commit"]


def test_bucket_layout_partitions_by_file_group(spark, tmp_path):
    st = _store(spark, tmp_path, num_buckets=4)
    st.upsert(
        "db.t",
        _batch(
            spark,
            [("db.t", "INSERT", None, (i, "x", 1), {}, i) for i in range(1, 21)],
        ),
        PAYLOAD,
    )
    log = str(tmp_path / "hudi" / "db.t" / "log-00000001")
    groups = [d for d in os.listdir(log) if d.startswith("__bucket=")]
    assert len(groups) > 1  # keys spread across file groups
    expect = {f"__bucket={bucket_id([str(i)], 4)}" for i in range(1, 21)}
    assert set(groups) == expect


def test_pk_less_table_rejected(spark, tmp_path):
    st = HudiTableStore(spark, str(tmp_path / "hudi2"))
    with pytest.raises(ValueError, match="no primary keys"):
        st.create_table("db.nopk", PAYLOAD, HudiTableConfig([]))


def test_option_surface():
    ok = validate_hudi_options(
        {
            "path": "/tmp/x",
            "table.type": "MERGE_ON_READ",
            "table.properties.hoodie.cleaner.commits.retained": "10",
        }
    )
    assert ok.table_type == MERGE_ON_READ
    assert ok.table_properties == {"hoodie.cleaner.commits.retained": "10"}
    with pytest.raises(ValueError, match="missing required"):
        validate_hudi_options({"table.type": "COPY_ON_WRITE"})
    with pytest.raises(ValueError, match="unknown option"):
        validate_hudi_options({"path": "/tmp/x", "bogus": 1})
    with pytest.raises(ValueError, match="BUCKET"):
        validate_hudi_options({"path": "/tmp/x", "index.type": "FLINK_STATE"})


def test_mor_compaction_preserves_semantics(spark, tmp_path):
    """compact(): deltacommit logs collapse into one commit slice; reads
    merge only newer logs on top; precombine semantics survive — a
    post-compaction row with a LOWER ordering value still loses to the
    compacted winner, and tombstones stay effective."""
    st = _store(spark, tmp_path, table_type=MERGE_ON_READ, ordering_field="ord")
    st.upsert("db.t", _batch(spark, [
        ("db.t", "INSERT", None, (1, "a", 5), {}, 1),
        ("db.t", "INSERT", None, (2, "b", 1), {}, 2),
        ("db.t", "INSERT", None, (3, "c", 1), {}, 3),
    ]), PAYLOAD)
    st.upsert("db.t", _batch(spark, [
        ("db.t", "DELETE", (3, "c", 1), None, {}, 4),
    ]), PAYLOAD)
    before = {(r.id, r.name) for r in st.read("db.t").collect()}
    ci = st.compact("db.t")
    assert ci == 3
    after = {(r.id, r.name) for r in st.read("db.t").collect()}
    assert after == before == {(1, "a"), (2, "b")}
    tl = st.timeline("db.t")
    assert tl[-1]["action"] == "commit"
    assert tl[-1]["operation"] == "compaction"
    # lower-ordering late arrival for id=1 must LOSE to the compacted row
    st.upsert("db.t", _batch(spark, [
        ("db.t", "UPDATE", (1, "a", 5), (1, "stale", 2), {}, 5),
        ("db.t", "INSERT", None, (4, "d", 1), {}, 6),
    ]), PAYLOAD)
    state = {r.id: r.name for r in st.read("db.t").collect()}
    assert state == {1: "a", 2: "b", 4: "d"}
    # COW: compaction is a no-op
    st2 = _store(spark, tmp_path / "cow", table_type="COPY_ON_WRITE")
    assert st2.compact("db.t") == 0


def test_create_table_survives_a_torn_properties_write(spark, tmp_path, monkeypatch):
    """A crash mid-dump of hoodie.properties must not leave a torn file
    that every retry skips: the write goes through a temp file and
    os.replace, so the retry writes it whole and the table works."""
    import json

    real_dump = json.dump

    def torn(obj, fp, **kw):
        fp.write('{"hoodie.table.na')
        raise OSError("disk full")

    st = HudiTableStore(spark, str(tmp_path / "hudi"))
    cfg = HudiTableConfig(["id"], table_type=MERGE_ON_READ)
    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        st.create_table("db.t", PAYLOAD, cfg)
    monkeypatch.setattr(json, "dump", real_dump)
    st.create_table("db.t", PAYLOAD, cfg)
    st.upsert("db.t", _batch(spark, [("db.t", "INSERT", None, (1, "a", 1), {}, 1)]), PAYLOAD)
    assert [r.id for r in st.read("db.t").collect()] == [1]
    # the failed attempt left no temp file behind
    assert sorted(os.listdir(tmp_path / "hudi" / "db.t" / ".hoodie")) == [
        "00000001.deltacommit", "hoodie.properties",
    ]

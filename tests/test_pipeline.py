"""End-to-end pipeline tests: YAML -> composer -> materialized tables,
checked against DuckDB on the driver-provided parquet (FIXTURES.md F4)."""

import duckdb
import pytest

from flink_cdc_spark.core.schema import Schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline import BatchPipelineComposer, parse_pipeline_yaml
from flink_cdc_spark.pipeline.composer import TableStream
from flink_cdc_spark.sources.parquet_source import MutationSpec, ParquetTableSource

from conftest import SF_DIR

YAML = """
source:
  type: parquet
  sf-dir: {sf}
  tables: default.customer

transform:
  - source-table: default.customer
    projection: c_custkey, UPPER(c_name) AS uname, c_acctbal * 2 AS doubled
    filter: c_acctbal > 0

sink:
  type: values

pipeline:
  name: test pipeline
  execution.runtime-mode: BATCH
"""


def duck(sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{SF_DIR}/customer.parquet'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'")
    return con.sql(sql).fetchall()


def _stream(spark, table, table_id, pk, mutations=None):
    src = ParquetTableSource(spark, SF_DIR)
    df = src.changelog(table, table_id, mutations)
    snap = src.snapshot(table)
    schema = Schema.from_spark_struct(snap.schema, primary_keys=pk)
    return TableStream(TableId.parse(table_id), df, schema, insert_only=mutations is None)


def test_yaml_parse_roundtrip():
    p = parse_pipeline_yaml(YAML.format(sf=SF_DIR))
    assert p.source.type == "parquet"
    assert p.transforms[0].projection.startswith("c_custkey")
    assert p.config.runtime_mode == "BATCH"


def test_e2e_projection_filter_vs_duckdb(spark):
    p = parse_pipeline_yaml(YAML.format(sf=SF_DIR))
    composer = BatchPipelineComposer(spark, p)
    result = composer.compose([_stream(spark, "customer", "default.customer", ("c_custkey",))])
    out = result.tables["default.customer"]
    got = sorted((r.c_custkey, r.uname, r.doubled) for r in out.collect())
    want = sorted(
        duck(
            "SELECT c_custkey, UPPER(c_name), c_acctbal * 2 FROM customer WHERE c_acctbal > 0"
        )
    )
    assert len(got) == len(want) and got[0][0] == want[0][0]
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) < 1e-9


def test_e2e_mutations_vs_duckdb(spark):
    spec = MutationSpec(
        key_column="o_orderkey",
        update_exprs={"o_totalprice": "o_totalprice + 1000"},
    )
    stream = _stream(spark, "orders", "default.orders", ("o_orderkey",), mutations=spec)
    yaml_text = """
source: {type: parquet}
sink: {type: values}
pipeline: {execution.runtime-mode: BATCH}
"""
    p = parse_pipeline_yaml(yaml_text)
    composer = BatchPipelineComposer(spark, p)
    result = composer.compose([stream])
    out = result.tables["default.orders"]
    got = {r.o_orderkey: r.o_totalprice for r in out.collect()}
    want = {
        r[0]: r[1]
        for r in duck(spec.oracle_final_state_sql("orders", ["o_orderkey", "o_totalprice"]))
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-6, k


def test_e2e_route_fanout_and_merge(spark):
    yaml_text = """
source: {type: parquet}
sink: {type: values}
route:
  - source-table: default.customer
    sink-table: sink.replica_a
  - source-table: default.\\.*
    sink-table: sink.all_merged
pipeline: {execution.runtime-mode: BATCH}
"""
    p = parse_pipeline_yaml(yaml_text)
    composer = BatchPipelineComposer(spark, p)
    streams = [
        _stream(spark, "customer", "default.customer", ("c_custkey",)),
    ]
    result = composer.compose(streams)
    assert set(result.tables) == {"sink.replica_a", "sink.all_merged"}
    n = result.tables["sink.replica_a"].count()
    assert n == result.tables["sink.all_merged"].count()
    assert n == duck("SELECT count(*) FROM customer")[0][0]


def test_e2e_n_to_1_merge_schema_align(spark):
    # merge two differently-shaped tables into one sink table
    yaml_text = """
source: {type: parquet}
sink: {type: values}
route:
  - source-table: default.\\.*
    sink-table: sink.merged
pipeline: {execution.runtime-mode: BATCH}
"""
    p = parse_pipeline_yaml(yaml_text)
    composer = BatchPipelineComposer(spark, p)
    streams = [
        _stream(spark, "region", "default.region", ()),
        _stream(spark, "nation", "default.nation", ()),
    ]
    result = composer.compose(streams)
    merged = result.tables["sink.merged"]
    cols = set(merged.columns)
    assert {"r_regionkey", "r_name", "n_nationkey", "n_name", "n_regionkey"} <= cols
    assert merged.count() == 30  # 5 regions + 25 nations


def test_distributed_schema_reduction(spark):
    """Parallel-metadata-source reduction: partitions report different
    payload shapes; the driver folds them to one least-common schema
    (distributed SchemaOperator analog)."""
    from flink_cdc_spark.pipeline.distributed import (
        discover_json_payload_schemas,
        merged_schema_for_table,
        reduce_partition_schemas,
    )
    from flink_cdc_spark.core.schema import new_schema

    # two partitions with heterogeneous JSON payloads for the same table
    p0 = [('{"id": 1, "name": "a"}',)] * 5
    p1 = [('{"id": 2, "score": 1.5}',)] * 5
    df = spark.createDataFrame(p0, "after STRING").repartition(1).unionAll(
        spark.createDataFrame(p1, "after STRING").repartition(1)
    )
    ddls = discover_json_payload_schemas(df)
    assert len(ddls) >= 1
    merged = merged_schema_for_table("db.t", ddls)
    names = set(merged.column_names)
    assert {"id", "name", "score"} <= names

    s1 = new_schema().physical_column("id", "INT").physical_column("v", "INT").build()
    s2 = new_schema().physical_column("id", "BIGINT").physical_column("w", "STRING").build()
    red = reduce_partition_schemas([s1, s2])
    assert red.column_names == ["id", "v", "w"]
    assert str(red.get_column("id").type) == "BIGINT"


def test_canned_suites_through_pipeline(spark):
    """The reference's canned values-source suites replayed through the
    composer (FlinkPipelineComposerITCase shape)."""
    from flink_cdc_spark.pipeline.composer import EventPipelineComposer
    from flink_cdc_spark.sources.values_source import (
        multi_splits_single_table,
        single_split_multi_tables,
        single_split_single_table,
        suite_with_schema_evolution,
    )

    def run(events, behavior="EVOLVE"):
        yaml_text = f"""
source: {{type: values}}
sink: {{type: values}}
pipeline: {{execution.runtime-mode: BATCH, schema.change.behavior: {behavior}}}
"""
        return EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text)).run(events)

    r = run(single_split_single_table())
    rows = {t.col1: t.col2 for t in r.tables["default.default.table1"].collect()}
    assert rows == {"1": "1", "2": "x"}

    r = run(single_split_multi_tables())
    assert r.tables["default.default.table1"].count() == 3
    assert r.tables["default.default.table2"].count() == 3

    r = run(multi_splits_single_table())
    assert r.tables["default.default.table1"].count() == 6

    r = run(suite_with_schema_evolution())
    t = r.tables["default.default.table1"]
    assert set(t.columns) == {"col1", "newCol2", "col3"}
    rows = {x.col1: (x.newCol2, x.col3) for x in t.collect()}
    assert rows["3"] == ("3", "c3b")
    assert rows["1"] == ("1", None)


# -- the one-scan snapshot changelog (sources/parquet_source.py) --------------

ODD = ["id", "my col", "we`ird", "v"]


def _odd_table(tmp_path, n=240):
    """A two-file directory table whose payload names need quoting."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "odd.parquet"
    out.mkdir()
    for i, lo in enumerate((0, n // 2)):
        ids = list(range(lo, lo + n // 2))
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "my col": [f"s{k}" for k in ids],
            "we`ird": [k % 7 for k in ids],
            "v": [k * 1.5 for k in ids],
        }), str(out / f"part-{i}.parquet"))
    return str(tmp_path)


# key 5 mod 12 is both updated (1 mod 4) and deleted (5 mod 6)
ODD_SPEC = MutationSpec(
    key_column="id", update_mod=4, update_rem=1,
    update_exprs={"v": "v + 1000", "we`ird": "-1"},
    delete_mod=6, delete_rem=5,
)


def test_mutation_changelog_scans_the_table_once(spark, tmp_path):
    df = ParquetTableSource(spark, _odd_table(tmp_path)).changelog("odd", "app.odd", ODD_SPEC)
    qe = df._jdf.queryExecution()
    assert "Union" not in qe.optimizedPlan().toString()
    assert qe.executedPlan().toString().count("FileScan") == 1


def test_mutation_changelog_sequence_bands(spark, tmp_path):
    df = ParquetTableSource(spark, _odd_table(tmp_path)).changelog("odd", "app.odd", ODD_SPEC)
    rows = df.collect()
    seqs = {op: [r["__seq"] for r in rows if r["__op"] == op]
            for op in ("INSERT", "UPDATE", "DELETE")}
    assert len(seqs["INSERT"]) == 240
    assert len(seqs["UPDATE"]) == 60 and len(seqs["DELETE"]) == 40
    assert max(seqs["INSERT"]) < 1 << 41 <= min(seqs["UPDATE"])
    assert max(seqs["UPDATE"]) < 1 << 42 <= min(seqs["DELETE"])
    assert len({r["__seq"] for r in rows}) == len(rows)
    assert {r["__table_id"] for r in rows} == {"app.odd"}


def test_mutation_changelog_delete_carries_the_updated_image(spark, tmp_path):
    df = ParquetTableSource(spark, _odd_table(tmp_path)).changelog("odd", "app.odd", ODD_SPEC)
    deletes = {r["before"]["id"]: r for r in df.where("__op = 'DELETE'").collect()}
    assert deletes and all(r["after"] is None for r in deletes.values())
    for k, r in deletes.items():
        b = r["before"]
        if k % 4 == 1:
            assert (b["v"], b["we`ird"]) == (k * 1.5 + 1000, -1), k
        else:
            assert (b["v"], b["we`ird"]) == (k * 1.5, k % 7), k
        assert b["my col"] == f"s{k}"
    assert 17 in deletes and 5 in deletes


def test_mutation_changelog_materializes_to_the_oracle(spark, tmp_path):
    from flink_cdc_spark.sinks.materialize import materialize_changelog

    sf = _odd_table(tmp_path)
    env = ParquetTableSource(spark, sf).changelog("odd", "app.odd", ODD_SPEC)
    got = sorted(tuple(r) for r in materialize_changelog(env, ["id"]).select(
        *[f"`{c.replace('`', '``')}`" for c in ODD]).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW odd AS SELECT * FROM read_parquet('{sf}/odd.parquet/*.parquet')")
    want = sorted(con.sql(ODD_SPEC.oracle_final_state_sql("odd", ODD)).fetchall())
    assert len(got) == 240 - 40
    assert got == want


def test_wrap_as_inserts_keeps_nested_not_null(spark):
    from pyspark.sql import types as T

    from flink_cdc_spark.sources.envelope import wrap_as_inserts

    payload = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("s", T.StructType([
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b c", T.StringType()),
        ])),
    ])
    env = wrap_as_inserts(spark.createDataFrame([(1, (2, "x"))], payload), "app.t", 7)
    assert env.schema["before"].dataType == payload
    assert env.schema["after"].dataType == payload
    (row,) = env.collect()
    assert (row["__op"], row["before"]) == ("INSERT", None) and row["__seq"] >= 7
    assert row["after"]["s"]["b c"] == "x"


def test_nanos_timestamps_in_a_directory_table(spark, tmp_path):
    """A TIMESTAMP(NANOS) column of a directory-form table reads as
    TIMESTAMP_NTZ (micros), as it does from a single file."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    out = tmp_path / "ev.parquet"
    out.mkdir()
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    stamps = [base + datetime.timedelta(seconds=k, microseconds=k) for k in range(4)]
    for i in range(2):
        part = stamps[2 * i: 2 * i + 2]
        pq.write_table(pa.table({
            "id": pa.array([2 * i, 2 * i + 1], pa.int64()),
            "ts": pa.array(part, pa.timestamp("ns")),
        }), str(out / f"part-{i}.parquet"))
    df = ParquetTableSource(spark, str(tmp_path)).snapshot("ev")
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    assert sorted((r.id, r.ts) for r in df.collect()) == list(enumerate(stamps))

"""Driver-contract query registry: named queries + DuckDB oracle SQL.

Each entry exercises one operator/capability from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable plus an equivalent ANSI-SQL string
DuckDB runs over the same parquet tables. Column names/aliases match
exactly on both sides (the driver hash-compares by sorted column name).

Float discipline: per-row arithmetic on doubles is bit-identical across
engines; aggregates go through DECIMAL so partial-aggregation order can't
change the result.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .core.schema import Schema
from .core.table_id import TableId
from .pipeline import BatchPipelineComposer, parse_pipeline_yaml
from .pipeline.composer import TableStream
from .sources.parquet_source import MutationSpec, ParquetTableSource

QUERIES: Dict[str, Callable] = {}
ORACLES: Dict[str, str] = {}


def register(name: str, oracle: str = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _pin_state(spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
    """Freeze a result at a point in time WITHOUT routing rows through the
    driver: write to a temp parquet and read back. Used where the input is
    a live database whose later evaluation could observe new writes, or
    where upstream caches must be released once the state is final. At
    scale this is the engine's normal sink path (a distributed write),
    unlike the old collect()/createDataFrame round-trip it replaces."""
    import tempfile

    out = tempfile.mkdtemp(prefix=f"contract_pin_{name}_")
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _stream(spark, sf_dir, table, table_id, pk, mutations=None) -> TableStream:
    src = ParquetTableSource(spark, sf_dir)
    df = src.changelog(table, table_id, mutations)
    schema = Schema.from_spark_struct(src.snapshot(table).schema, primary_keys=pk)
    return TableStream(TableId.parse(table_id), df, schema, insert_only=mutations is None)


def pin_session(spark: SparkSession) -> SparkSession:
    """Make results independent of the driver session's defaults: naive
    testdata timestamps must read as UTC (the DuckDB oracle's convention)
    and Arrow batching stays on for the pandas-UDF paths. Also applies
    the engine's optimizer tuning (see session.tune_for_engine)."""
    from .session import tune_for_engine

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return tune_for_engine(spark)


def run_pipeline(spark, sf_dir, yaml_text, tables, sink_table) -> DataFrame:
    """tables: list[(table, table_id, pk_tuple, mutations_or_None)]"""
    pin_session(spark)
    pipeline = parse_pipeline_yaml(yaml_text)
    udf_names = frozenset()
    if pipeline.udfs:
        from .functions import register_pipeline_udfs

        udf_names = register_pipeline_udfs(spark, pipeline.udfs)
    composer = BatchPipelineComposer(spark, pipeline, udf_names=udf_names)
    streams = [
        _stream(spark, sf_dir, t, tid, pk, mut) for t, tid, pk, mut in tables
    ]
    result = composer.compose(streams)
    return result.tables[sink_table]


# ---------------------------------------------------------------------------
# §2.1 transform: projection + filter (PostTransformOperator analog)
# ---------------------------------------------------------------------------


@register(
    "transform_project_filter",
    """
    SELECT c_custkey,
           UPPER(c_name) AS uname,
           c_acctbal * 2 AS doubled,
           c_mktsegment AS segment
    FROM customer
    WHERE c_acctbal > 100 AND c_mktsegment <> 'MACHINERY'
    """,
)
def transform_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.customer
    projection: c_custkey, UPPER(c_name) AS uname, c_acctbal * 2 AS doubled, c_mktsegment AS segment
    filter: c_acctbal > 100 AND c_mktsegment <> 'MACHINERY'
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("customer", "default.customer", ("c_custkey",), None)],
        "default.customer",
    )


# ---------------------------------------------------------------------------
# §2.1 changelog materialization with update/delete tail (ValuesDatabase analog)
# ---------------------------------------------------------------------------

_ORDERS_MUT = MutationSpec(
    key_column="o_orderkey",
    update_exprs={"o_totalprice": "o_totalprice + 1000", "o_orderstatus": "'U'"},
)


@register(
    "changelog_materialize",
    """
    SELECT o_orderkey,
           CASE WHEN (o_orderkey % 10) = 3 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN (o_orderkey % 10) = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
           o_custkey
    FROM orders
    WHERE (o_orderkey % 20) <> 7
    """,
)
def changelog_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.orders
    projection: o_orderkey, o_totalprice, o_orderstatus, o_custkey
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("orders", "default.orders", ("o_orderkey",), _ORDERS_MUT)],
        "default.orders",
    )


# ---------------------------------------------------------------------------
# SCD2 history materialization (temporal-table producer; operators/scd2.py)
# ---------------------------------------------------------------------------


@register(
    "changelog_scd2_history",
    """
    WITH ev AS (
      SELECT o_orderkey, 1 AS ver, TRUE AS alive,
             o_custkey, o_totalprice, o_orderstatus
      FROM orders
      UNION ALL
      SELECT o_orderkey, 2, TRUE, o_custkey, o_totalprice + 1000, 'U'
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, CASE WHEN o_orderkey % 10 = 3 THEN 3 ELSE 2 END,
             FALSE, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
             CAST(NULL AS VARCHAR)
      FROM orders WHERE o_orderkey % 20 = 7
    ),
    h AS (
      SELECT o_orderkey, ver AS valid_from_ver,
             lead(ver) OVER (PARTITION BY o_orderkey ORDER BY ver)
               AS valid_to_ver,
             alive, o_custkey, o_totalprice, o_orderstatus
      FROM ev
    )
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           CAST(valid_from_ver AS BIGINT) AS valid_from_ver,
           CAST(valid_to_ver AS BIGINT) AS valid_to_ver,
           (valid_to_ver IS NULL) AS is_current
    FROM h WHERE alive
    """,
)
def changelog_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history built from the orders changelog: every
    surviving image opens a per-key version interval, the next event on
    the key closes it, DELETE closes without a successor, `is_current`
    marks the open interval. One exchange on the pk (window + lead),
    map-only otherwise. The oracle rebuilds the per-key event sequence
    closed-form and applies the same lead()."""
    from .operators.scd2 import scd2_history

    env = ParquetTableSource(spark, sf_dir).changelog(
        "orders", "default.orders", _ORDERS_MUT
    )
    return scd2_history(
        env, "o_orderkey",
        payload_cols=["o_custkey", "o_totalprice", "o_orderstatus"],
    )


# ---------------------------------------------------------------------------
# Temporal table join: FOR SYSTEM_TIME AS OF over SCD2 history
# (operators/temporal_join.py consumes what operators/scd2.py produces)
# ---------------------------------------------------------------------------

_DIM_T0 = "2024-01-05 00:00:00"  # v1 of every customer
_DIM_T1 = "2024-01-12 00:00:00"  # v2 (segment UPGRADED) for custkey % 3 = 1
_DIM_T2 = "2024-01-20 00:00:00"  # DELETE for custkey % 7 = 2


def _customer_dim_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic timestamped customer-dimension changelog: insert-all
    at T0, segment upgrade for every third key at T1, delete of every
    seventh key at T2 — op_ts carried in the envelope __meta map the way
    CDC sources stamp commit time."""
    from .sources.envelope import (
        ENVELOPE_META, ENVELOPE_OP, ENVELOPE_SEQ, ENVELOPE_TABLE_ID,
        OP_DELETE, OP_INSERT, OP_UPDATE,
    )

    cust = ParquetTableSource(spark, sf_dir).snapshot("customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
    )

    def img(segment):
        return F.struct(
            F.col("c_custkey").alias("c_custkey"),
            segment.alias("c_mktsegment"),
            F.col("c_nationkey").alias("c_nationkey"),
        )

    v1, v2 = img(F.col("c_mktsegment")), img(F.lit("UPGRADED"))
    payload_t = cust.select(v1.alias("x")).schema["x"].dataType
    null_img = F.lit(None).cast(payload_t)

    def meta(ts):
        return F.create_map(F.lit("op_ts"), F.lit(ts)).alias(ENVELOPE_META)

    def env_rows(src, op, before, after, ts, seq_off):
        return src.select(
            F.lit("default.customer_dim").alias(ENVELOPE_TABLE_ID),
            F.lit(op).alias(ENVELOPE_OP),
            before.alias("before"),
            after.alias("after"),
            meta(ts),
            (F.col("c_custkey") * 3 + seq_off).alias(ENVELOPE_SEQ),
        )

    ins = env_rows(cust, OP_INSERT, null_img, v1, _DIM_T0, 0)
    upd = env_rows(cust.where("c_custkey % 3 = 1"), OP_UPDATE, v1, v2, _DIM_T1, 1)
    dele = env_rows(
        cust.where("c_custkey % 7 = 2"), OP_DELETE,
        F.when(F.col("c_custkey") % 3 == 1, v2).otherwise(v1), null_img,
        _DIM_T2, 2,
    )
    return ins.unionByName(upd).unionByName(dele)


@register(
    "events_temporal_join_scd2",
    f"""
    WITH hist AS (
      SELECT c_custkey, c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
             CAST(1 AS BIGINT) AS dim_ver,
             TIMESTAMP '{_DIM_T0}' AS vfrom,
             CASE WHEN c_custkey % 3 = 1 THEN TIMESTAMP '{_DIM_T1}'
                  WHEN c_custkey % 7 = 2 THEN TIMESTAMP '{_DIM_T2}'
                  ELSE NULL END AS vto
      FROM customer
      UNION ALL
      SELECT c_custkey, 'UPGRADED', CAST(c_nationkey AS BIGINT),
             CAST(2 AS BIGINT), TIMESTAMP '{_DIM_T1}',
             CASE WHEN c_custkey % 7 = 2 THEN TIMESTAMP '{_DIM_T2}' END
      FROM customer WHERE c_custkey % 3 = 1
    )
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us, e.event_type,
           h.c_mktsegment, h.c_nationkey, h.dim_ver AS valid_from_ver
    FROM events e
    LEFT JOIN hist h
      ON h.c_custkey = e.user_id
     AND e.ts >= h.vfrom AND (h.vto IS NULL OR e.ts < h.vto)
    """,
)
def events_temporal_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`FOR SYSTEM_TIME AS OF e.ts` — the reference's headline temporal
    consumer of the changelog (Flink SQL temporal table join over the
    versioned table CDC materializes): each event joins the customer
    dimension VERSION whose validity interval contains the event time;
    events before the first version or after the key's DELETE pass
    through NULL-enriched. The dimension is built by scd2_history with
    wall-clock validity (op_ts from the envelope meta); the join is the
    merge formulation — one key exchange, per-key sort, running carry —
    never the events x versions range cross-join. The oracle rebuilds
    the interval table closed-form and range-joins it."""
    from .operators.scd2 import scd2_history
    from .operators.temporal_join import temporal_join

    history = scd2_history(
        _customer_dim_changelog(spark, sf_dir),
        "c_custkey",
        payload_cols=["c_mktsegment", "c_nationkey"],
        ts_expr="CAST(__meta['op_ts'] AS TIMESTAMP)",
    )
    events = ParquetTableSource(spark, sf_dir).snapshot("events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    joined = temporal_join(
        events, history,
        probe_key="user_id", probe_ts="ts", dim_key="c_custkey",
        payload_cols=["c_mktsegment", "c_nationkey"],
        version_col="valid_from_ver",
    )
    return joined.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_type", "c_mktsegment", "c_nationkey", "valid_from_ver",
    )


_TEMPORAL_SUPERSET = [
    ("c_custkey", "bigint"),
    ("c_mktsegment", "string"),
    ("c_nationkey", "bigint"),
    ("event_id", "bigint"),
    ("user_id", "bigint"),
    ("ts", "timestamp"),
    ("event_type", "string"),
]


@register(
    "streaming_temporal_join_scd2",
    f"""
    WITH hist AS (
      SELECT c_custkey, c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
             CAST(1 AS BIGINT) AS dim_ver,
             TIMESTAMP '{_DIM_T0}' AS vfrom,
             CASE WHEN c_custkey % 3 = 1 THEN TIMESTAMP '{_DIM_T1}'
                  WHEN c_custkey % 7 = 2 THEN TIMESTAMP '{_DIM_T2}'
                  ELSE NULL END AS vto
      FROM customer
      UNION ALL
      SELECT c_custkey, 'UPGRADED', CAST(c_nationkey AS BIGINT),
             CAST(2 AS BIGINT), TIMESTAMP '{_DIM_T1}',
             CASE WHEN c_custkey % 7 = 2 THEN TIMESTAMP '{_DIM_T2}' END
      FROM customer WHERE c_custkey % 3 = 1
    )
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us, e.event_type,
           h.c_mktsegment, h.c_nationkey, h.dim_ver AS valid_from_ver
    FROM events e
    LEFT JOIN hist h
      ON h.c_custkey = e.user_id
     AND e.ts >= h.vfrom AND (h.vto IS NULL OR e.ts < h.vto)
    """,
)
def streaming_temporal_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of the temporal table join — the reference's
    actual runtime shape (Flink SQL `FOR SYSTEM_TIME AS OF` over a
    CDC-fed versioned table): the customer dimension's SCD2 history is
    maintained incrementally inside the runner from its changelog, and
    each epoch's probe events enrich against the versions known at that
    epoch. Three event-time-ordered micro-batches each carry one
    dimension epoch (v1 inserts, the UPGRADED updates, the deletes)
    plus that phase's probes, so dimension versions move BETWEEN
    epochs, probes see versions created earlier in the same run, and
    same-batch probes see the versions their timestamps select (the
    fold applies before the enrichment inside an epoch). Per epoch the history
    fold and the join are delta-keyed (broadcast semi/anti joins on
    batch-sized key sets); the accumulated enrichment must equal the
    batch operator's full-history AS-OF join (the same closed-form
    interval oracle as events_temporal_join_scd2)."""
    import hashlib
    import tempfile

    from .streaming.incremental_join import harmonize_envelope
    from .streaming.temporal_join_stream import StreamingTemporalJoin

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_tjoin/{key}-b3"
    work = tempfile.mkdtemp(prefix="cdc_tjoin_", dir="/tmp")
    tj = StreamingTemporalJoin(
        spark,
        work,
        dim_table_id="default.customer_dim",
        probe_table_id="default.events_probe",
        dim_key="c_custkey",
        payload_cols=["c_mktsegment", "c_nationkey"],
        probe_key="user_id",
        probe_ts="ts",
        probe_cols=["event_id", "user_id", "ts", "event_type"],
        staged_dir=staged,
    )
    if not tj.staged():
        from .sources.envelope import (
            ENVELOPE_META, ENVELOPE_OP, ENVELOPE_SEQ, ENVELOPE_TABLE_ID,
            OP_INSERT, OP_UPDATE,
        )

        # three micro-batches, each = one dimension epoch PLUS its
        # event-time phase's probes (the fold applies before the
        # enrichment inside an epoch, so same-batch probes legitimately
        # see the versions their timestamps select); checkpointed
        # micro-batch overhead dominates this row's bench cost, so the
        # epoch count IS the budget
        dim = harmonize_envelope(
            _customer_dim_changelog(spark, sf_dir), _TEMPORAL_SUPERSET
        ).withColumn(
            "__b",
            F.when(F.col(ENVELOPE_OP) == OP_INSERT, F.lit(0))
            .when(F.col(ENVELOPE_OP) == OP_UPDATE, F.lit(1))
            .otherwise(F.lit(2)),
        )
        ev = ParquetTableSource(spark, sf_dir).snapshot("events")
        probe_img = F.struct(
            F.col("event_id").cast("bigint").alias("event_id"),
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("ts").alias("ts"),
            F.col("event_type").alias("event_type"),
        )
        probes = harmonize_envelope(
            ev.select(
                F.lit("default.events_probe").alias(ENVELOPE_TABLE_ID),
                F.lit(OP_INSERT).alias(ENVELOPE_OP),
                F.lit(None).cast(
                    ev.select(probe_img.alias("x")).schema["x"].dataType
                ).alias("before"),
                probe_img.alias("after"),
                F.create_map(F.lit("src"), F.lit("probe")).alias(ENVELOPE_META),
                (F.col("event_id").cast("bigint") + 10_000_000).alias(
                    ENVELOPE_SEQ
                ),
            ),
            _TEMPORAL_SUPERSET,
        ).withColumn(
            "__b",
            F.when(F.col("after.ts") < F.lit(_DIM_T1).cast("timestamp"), 0)
            .when(F.col("after.ts") < F.lit(_DIM_T2).cast("timestamp"), 1)
            .otherwise(2),
        )
        tj.stage(dim.unionByName(probes))
    tj.run()
    return tj.enriched().select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_type", "c_mktsegment", "c_nationkey", "valid_from_ver",
    )


# ---------------------------------------------------------------------------
# §2.4 filter-on-UPDATE splitting: consistent filtered changelog
# ---------------------------------------------------------------------------


@register(
    "update_split_filter",
    """
    WITH final_state AS (
      SELECT event_id,
             user_id,
             CASE WHEN (event_id % 10) = 3 THEN value * 10 ELSE value END AS value,
             event_type
      FROM events
      WHERE (event_id % 20) <> 7
    )
    SELECT event_id, user_id, value, event_type
    FROM final_state WHERE value >= 50
    """,
)
def update_split_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # updates multiply value by 10, pushing rows across the filter boundary in
    # both directions -> exercises Y/N->DELETE and N/Y->INSERT conversion
    mut = MutationSpec(key_column="event_id", update_exprs={"value": "value * 10"})
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.events
    projection: event_id, user_id, value, event_type
    filter: value >= 50
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("events", "default.events", ("event_id",), mut)],
        "default.events",
    )


# ---------------------------------------------------------------------------
# §2.1 route: 1->N fan-out and N->1 merge with schema alignment
# ---------------------------------------------------------------------------


@register(
    "route_merge_tables",
    """
    SELECT r_regionkey, r_name, NULL::INTEGER AS n_nationkey, NULL::VARCHAR AS n_name, NULL::INTEGER AS n_regionkey
    FROM region
    UNION ALL
    SELECT NULL::INTEGER, NULL::VARCHAR, n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def route_merge_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
route:
  - source-table: default.\\.*
    sink-table: sink.merged
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [
            ("region", "default.region", (), None),
            ("nation", "default.nation", (), None),
        ],
        "sink.merged",
    )


# ---------------------------------------------------------------------------
# §2.5 metadata columns
# ---------------------------------------------------------------------------


@register(
    "metadata_columns",
    """
    SELECT n_nationkey,
           'default' AS ns,
           'nation' AS tbl,
           '+I' AS op,
           'default' || '.' || 'nation' AS identifier
    FROM nation
    """,
)
def metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.nation
    projection: "n_nationkey, __schema_name__ AS ns, __table_name__ AS tbl, __data_event_type__ AS op, __schema_name__ || '.' || __table_name__ AS identifier"
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("nation", "default.nation", ("n_nationkey",), None)],
        "default.nation",
    )


# ---------------------------------------------------------------------------
# §2.5 scalar function surface — each suite runs through the transform
# pipeline (our dialect compiler), oracle in equivalent DuckDB SQL
# ---------------------------------------------------------------------------


@register(
    "fn_string_suite",
    """
    SELECT p_partkey,
           concat(p_brand, ':', p_type) AS joined,
           concat_ws('-', p_brand, p_name) AS joined_ws,
           length(p_name) AS name_len,
           upper(p_brand) AS up,
           lower(p_type) AS lo,
           trim(p_name) AS trimmed,
           substr(p_name, 1, 5) AS sub5,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           replace(p_type, ' ', '_') AS replaced,
           repeat(left(p_brand, 2), 2) AS rep2,
           right(p_type, 3) AS r3,
           starts_with(p_name, 'a') AS sw,
           ends_with(p_type, 'd') AS ew,
           instr(p_name, 'e') AS ie,
           position('a' IN p_name) AS pa,
           substr(p_name, 2) AS tail
    FROM part
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.part
    projection: >-
      p_partkey,
      p_brand || ':' || p_type AS joined,
      CONCAT_WS('-', p_brand, p_name) AS joined_ws,
      CHAR_LENGTH(p_name) AS name_len,
      UPPER(p_brand) AS up,
      LOWER(p_type) AS lo,
      TRIM(p_name) AS trimmed,
      SUBSTR(p_name, 1, 5) AS sub5,
      LPAD(CAST(p_size AS STRING), 4, '0') AS padded,
      REPLACE(p_type, ' ', '_') AS replaced,
      REPEAT(LEFT(p_brand, 2), 2) AS rep2,
      RIGHT(p_type, 3) AS r3,
      STARTSWITH(p_name, 'a') AS sw,
      ENDSWITH(p_type, 'd') AS ew,
      INSTR(p_name, 'e') AS ie,
      POSITION('a' IN p_name) AS pa,
      SUBSTRING(p_name FROM 2) AS tail
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("part", "default.part", ("p_partkey",), None)],
        "default.part",
    )


@register(
    "fn_string_regexp",
    """
    SELECT doc_id,
           regexp_replace(text, '\\s+', '_', 'g') AS squashed,
           regexp_extract(text, '[a-z]+') AS first_word,
           length(regexp_extract(text, '([a-z]+) ([a-z]+)', 2)) AS second_len,
           regexp_matches(text, 'scan|join') AS has_scan_join,
           regexp_full_match(lang, '(en|de|fr)') AS is_eur,
           to_base64(encode(source)) AS b64,
           decode(from_base64(to_base64(encode(lang)))) AS roundtrip
    FROM documents
    """,
)
def fn_string_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = r"""
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.documents
    projection: >-
      doc_id,
      REGEXP_REPLACE(text, '\s+', '_') AS squashed,
      REGEXP_EXTRACT(text, '[a-z]+') AS first_word,
      CHAR_LENGTH(REGEXP_EXTRACT(text, '([a-z]+) ([a-z]+)', 2)) AS second_len,
      text LIKE 'scan|join' AS has_scan_join,
      lang SIMILAR TO '(en|de|fr)' AS is_eur,
      TO_BASE64(source) AS b64,
      FROM_BASE64(TO_BASE64(lang)) AS roundtrip
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("documents", "default.documents", ("doc_id",), None)],
        "default.documents",
    )


@register(
    "fn_temporal_suite",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS fmt_date,
           strftime(o_orderdate, '%Y/%m') AS fmt_month,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS plus_30d,
           CAST(floor(epoch(TIMESTAMP '1998-01-01 00:00:00' - o_orderdate) / 86400) AS BIGINT) AS days_to_98,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_s,
           CAST(o_orderdate AS DATE) AS just_date,
           year(o_orderdate) AS yr
    FROM orders
    """,
)
def fn_temporal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.orders
    projection: >-
      o_orderkey,
      DATE_FORMAT(o_orderdate, 'yyyy-MM-dd') AS fmt_date,
      DATE_FORMAT(o_orderdate, 'yyyy/MM') AS fmt_month,
      CAST(TIMESTAMPADD(DAY, 30, o_orderdate) AS TIMESTAMP) AS plus_30d,
      CAST(TIMESTAMPDIFF(DAY, o_orderdate, TO_TIMESTAMP('1998-01-01 00:00:00')) AS BIGINT) AS days_to_98,
      UNIX_TIMESTAMP(DATE_FORMAT(o_orderdate, 'yyyy-MM-dd HH:mm:ss')) AS unix_s,
      TO_DATE(DATE_FORMAT(o_orderdate, 'yyyy-MM-dd')) AS just_date,
      CAST(DATE_FORMAT(o_orderdate, 'yyyy') AS INTEGER) AS yr
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("orders", "default.orders", ("o_orderkey",), None)],
        "default.orders",
    )


@register(
    "fn_arith_cast_suite",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS ad,
           CAST(ceil(l_extendedprice) AS DOUBLE) AS ce,
           CAST(floor(l_extendedprice) AS DOUBLE) AS fl,
           CAST(round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 2) AS DOUBLE) AS revenue,
           CAST(l_quantity AS INTEGER) % 7 AS m7,
           CAST(l_quantity AS BIGINT) AS q_long,
           CAST(l_tax AS VARCHAR) AS tax_str,
           CAST(CAST(l_extendedprice AS DECIMAL(18, 2)) AS DOUBLE) AS price_dec,
           (l_extendedprice / (1 + l_tax)) AS net,
           -l_discount AS neg
    FROM lineitem
    """,
)
def fn_arith_cast_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.lineitem
    projection: >-
      l_orderkey, l_linenumber,
      ABS(l_discount - 0.05) AS ad,
      CAST(CEIL(l_extendedprice) AS DOUBLE) AS ce,
      CAST(FLOOR(l_extendedprice) AS DOUBLE) AS fl,
      CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 6)), 2) AS DOUBLE) AS revenue,
      CAST(l_quantity AS INTEGER) % 7 AS m7,
      CAST(l_quantity AS LONG) AS q_long,
      CAST(l_tax AS STRING) AS tax_str,
      CAST(CAST(l_extendedprice AS DECIMAL(18, 2)) AS DOUBLE) AS price_dec,
      l_extendedprice / (1 + l_tax) AS net,
      -l_discount AS neg
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("lineitem", "default.lineitem", (), None)],
        "default.lineitem",
    )


@register(
    "fn_conditional_comparison",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal > 5000 THEN 'high' WHEN c_acctbal > 0 THEN 'mid' ELSE 'low' END AS tier,
           CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'MACHINERY' THEN 2 ELSE 0 END AS seg_code,
           coalesce(NULL, c_name) AS nm,
           if(c_nationkey % 2 = 0, 'even', 'odd') AS parity,
           (c_acctbal BETWEEN 0 AND 1000) AS in_band,
           (c_mktsegment IN ('BUILDING', 'AUTOMOBILE')) AS seg_in,
           (c_nationkey IS NOT NULL) AS nk_nn,
           (c_acctbal IS NOT DISTINCT FROM c_acctbal) AS self_same,
           (c_nationkey <> 3) AS not3
    FROM customer
    """,
)
def fn_conditional_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.customer
    projection: >-
      c_custkey,
      CASE WHEN c_acctbal > 5000 THEN 'high' WHEN c_acctbal > 0 THEN 'mid' ELSE 'low' END AS tier,
      CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'MACHINERY' THEN 2 ELSE 0 END AS seg_code,
      COALESCE(NULL, c_name) AS nm,
      IF(c_nationkey % 2 = 0, 'even', 'odd') AS parity,
      c_acctbal BETWEEN 0 AND 1000 AS in_band,
      c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AS seg_in,
      c_nationkey IS NOT NULL AS nk_nn,
      c_acctbal IS NOT DISTINCT FROM c_acctbal AS self_same,
      c_nationkey <> 3 AS not3
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("customer", "default.customer", ("c_custkey",), None)],
        "default.customer",
    )


@register(
    "fn_null_propagation",
    """
    SELECT c_custkey,
           (nullif(c_nationkey, 3) + 1) AS add_null,
           ('x' || COALESCE(CAST(nullif(c_nationkey, 3) AS VARCHAR), 'null')) AS concat_null,
           upper(CAST(NULL AS VARCHAR)) AS upper_null,
           COALESCE(nullif(c_nationkey, 3) BETWEEN 0 AND 10, FALSE) AS between_3vl,
           COALESCE(nullif(c_nationkey, 3) > 1, FALSE) AS cmp_3vl,
           (COALESCE(nullif(c_nationkey, 3) > 1, FALSE) OR TRUE) AS or_true,
           (COALESCE(nullif(c_nationkey, 3) > 1, FALSE) AND FALSE) AS and_false,
           coalesce(nullif(c_nationkey, 3), -1) AS coalesced,
           (nullif(c_nationkey, 3) IS NULL) AS isn,
           (nullif(c_nationkey, 3) IS NOT DISTINCT FROM NULL) AS notdist_null,
           CASE WHEN nullif(c_nationkey, 3) > 10 THEN 'big' END AS case_null,
           if(nullif(c_nationkey, 3) IS NULL, 'was3', 'other') AS ifnull_tag,
           abs(nullif(c_nationkey, 3) * NULL) AS arith_null
    FROM customer
    """,
)
def fn_null_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics parity (SURVEY.md §7 phase-2 risk list). The
    reference's transform runtime is 2-VALUED on comparisons and BETWEEN
    (SystemFunctionUtils: null operands -> FALSE; pinned verbatim by
    specs/comparison.yaml null rows in tests/test_spec_corpus.py), and its
    concat stringifies NULL operands as 'null' (specs/string.yaml). Arith,
    CASE, IS NULL, COALESCE stay SQL 3VL. The oracle expresses the same
    semantics in DuckDB via explicit COALESCE."""
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.customer
    projection: >-
      c_custkey,
      NULLIF(c_nationkey, 3) + 1 AS add_null,
      'x' || CAST(NULLIF(c_nationkey, 3) AS STRING) AS concat_null,
      UPPER(CAST(NULL AS STRING)) AS upper_null,
      NULLIF(c_nationkey, 3) BETWEEN 0 AND 10 AS between_3vl,
      NULLIF(c_nationkey, 3) > 1 AS cmp_3vl,
      (NULLIF(c_nationkey, 3) > 1) OR TRUE AS or_true,
      (NULLIF(c_nationkey, 3) > 1) AND FALSE AS and_false,
      COALESCE(NULLIF(c_nationkey, 3), -1) AS coalesced,
      NULLIF(c_nationkey, 3) IS NULL AS isn,
      NULLIF(c_nationkey, 3) IS NOT DISTINCT FROM NULL AS notdist_null,
      CASE WHEN NULLIF(c_nationkey, 3) > 10 THEN 'big' END AS case_null,
      IF(NULLIF(c_nationkey, 3) IS NULL, 'was3', 'other') AS ifnull_tag,
      ABS(NULLIF(c_nationkey, 3) * NULL) AS arith_null
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("customer", "default.customer", ("c_custkey",), None)],
        "default.customer",
    )


@register(
    "fn_variant_json",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_item,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
           json_extract_string(props, '$.k') AS k_str,
           (CAST(json_extract_string(props, '$.k') AS INTEGER) % 5) AS k_mod
    FROM events
    """,
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant surface (SURVEY.md §2.5): PARSE_JSON + 1-based/variant item
    access + JSON-path extraction, oracle via DuckDB json functions."""
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.events
    projection: >-
      event_id,
      CAST(PARSE_JSON(props)['k'] AS INTEGER) AS k_item,
      CAST(VARIANT_GET(PARSE_JSON(props), '$.k', 'long') AS LONG) AS k_path,
      GET_JSON_OBJECT(props, '$.k') AS k_str,
      CAST(PARSE_JSON(props)['k'] AS INTEGER) % 5 AS k_mod
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("events", "default.events", ("event_id",), None)],
        "default.events",
    )


# ---------------------------------------------------------------------------
# §2.1/§3 schema evolution through the pipeline (SchemaOperator analog)
# ---------------------------------------------------------------------------


def _customer_evolution_events(spark, sf_dir, rename=False):
    """Scripted stream: even-keyed customers arrive under a 4-column schema,
    then ADD COLUMN c_mktsegment (and optionally RENAME c_name->full_name),
    then odd-keyed customers arrive with the full schema."""
    from .core.events import (
        AddColumnEvent,
        CreateTableEvent,
        DataChangeEvent,
        RenameColumnEvent,
    )
    from .core.schema import Column, new_schema
    from .core import types as ct

    tid = TableId.parse("db.customer")
    rows = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("customer")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .collect()
    )
    schema_v1 = (
        new_schema()
        .physical_column("c_custkey", "BIGINT NOT NULL")
        .physical_column("c_name", "STRING")
        .physical_column("c_nationkey", "INT")
        .physical_column("c_acctbal", "DOUBLE")
        .primary_key("c_custkey")
        .build()
    )
    events = [CreateTableEvent(tid, schema_v1)]
    for r in rows:
        if r.c_custkey % 2 == 0:
            events.append(
                DataChangeEvent.insert(tid, (r.c_custkey, r.c_name, r.c_nationkey, r.c_acctbal))
            )
    events.append(AddColumnEvent.last(tid, Column("c_mktsegment", ct.string())))
    if rename:
        events.append(RenameColumnEvent(tid, (("c_name", "full_name"),)))
    for r in rows:
        if r.c_custkey % 2 == 1:
            events.append(
                DataChangeEvent.insert(
                    tid, (r.c_custkey, r.c_name, r.c_nationkey, r.c_acctbal, r.c_mktsegment)
                )
            )
    return events


@register(
    "schema_evolution_add_column",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal,
           CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def schema_evolution_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.composer import EventPipelineComposer

    yaml_text = """
source: {type: values}
sink: {type: values}
pipeline: {execution.runtime-mode: BATCH, schema.change.behavior: EVOLVE}
"""
    composer = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))
    result = composer.run(_customer_evolution_events(spark, sf_dir))
    return result.tables["db.customer"]


@register(
    "schema_evolution_through_projection",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal,
           CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment,
           length(c_name) AS name_len
    FROM customer
    """,
)
def schema_evolution_through_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-change rewriting THROUGH an active wildcard projection
    (PostTransformOperator cached-processor invalidation scope): the
    mid-stream ADD COLUMN must propagate into the `*`-expanded output
    alongside the computed column, and rows from both schema versions
    coexist in the materialized table."""
    from .pipeline.composer import EventPipelineComposer

    yaml_text = """
source: {type: values}
sink: {type: values}
transform:
  - source-table: db.customer
    projection: "*, CHAR_LENGTH(c_name) AS name_len"
    primary-keys: c_custkey
pipeline: {execution.runtime-mode: BATCH, schema.change.behavior: EVOLVE}
"""
    composer = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))
    result = composer.run(_customer_evolution_events(spark, sf_dir))
    return result.tables["db.customer"]


@register(
    "schema_evolution_lenient_rename",
    """
    SELECT c_custkey,
           CASE WHEN c_custkey % 2 = 0 THEN c_name ELSE NULL END AS c_name,
           CASE WHEN c_custkey % 2 = 1 THEN c_name ELSE NULL END AS full_name,
           c_nationkey, c_acctbal,
           CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def schema_evolution_lenient_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline.composer import EventPipelineComposer

    yaml_text = """
source: {type: values}
sink: {type: values}
pipeline: {execution.runtime-mode: BATCH, schema.change.behavior: LENIENT}
"""
    composer = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))
    result = composer.run(_customer_evolution_events(spark, sf_dir, rename=True))
    return result.tables["db.customer"]


@register(
    "transform_soft_delete",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 10 = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 20 = 7 THEN '-D'
                WHEN o_orderkey % 10 = 3 THEN '+U'
                ELSE '+I' END AS op_type
    FROM orders
    """,
)
def transform_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT_DELETE converter (transform/converter scope, transform.md:48-61):
    DELETEs become INSERTs carrying the before image, so deleted keys stay
    in the materialized state — tagged '-D' by the __data_event_type__
    metadata column computed on that image before the conversion."""
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.orders
    projection: o_orderkey, o_totalprice, o_orderstatus, __data_event_type__ AS op_type
    converter-after-transform: SOFT_DELETE
pipeline: {execution.runtime-mode: BATCH}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("orders", "default.orders", ("o_orderkey",), _ORDERS_MUT)],
        "default.orders",
    )


def schema_evolution_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE behavior (SchemaChangeBehavior.java:28-32): the sink schema
    stays at v1; post-DDL rows still flow, their new column dropped by
    coercion — upstream schema versions keep being tracked so decoding
    stays correct."""
    from .pipeline.composer import EventPipelineComposer

    yaml_text = """
source: {type: values}
sink: {type: values}
pipeline: {execution.runtime-mode: BATCH, schema.change.behavior: IGNORE}
"""
    composer = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))
    result = composer.run(_customer_evolution_events(spark, sf_dir))
    return result.tables["db.customer"]


def schema_evolution_exclude_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-side schema-change type filtering
    (SinkDef.getIncludedSchemaEvolutionTypes): EVOLVE behavior with
    ADD_COLUMN excluded — the mid-stream ADD is filtered while the RENAME
    still evolves the sink, including redirection of rows written under
    the old name."""
    from .pipeline.composer import EventPipelineComposer

    yaml_text = """
source: {type: values}
sink: {type: values, exclude.schema.changes: [add.column]}
pipeline: {execution.runtime-mode: BATCH, schema.change.behavior: EVOLVE}
"""
    composer = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))
    result = composer.run(_customer_evolution_events(spark, sf_dir, rename=True))
    return result.tables["db.customer"]


def _try_evolve_events(spark, sf_dir):
    """Two source tables routed N->1 into one sink; both later ADD the same
    column. The second ADD is valid on its own upstream schema but a
    duplicate on the merged sink schema — exactly the divergence
    TRY_EVOLVE exists for (apply what fits, swallow what doesn't; EVOLVE
    raises on the same stream — pinned by pytest)."""
    from .core.events import AddColumnEvent, CreateTableEvent, DataChangeEvent
    from .core.schema import Column, new_schema
    from .core import types as ct

    t1, t2 = TableId.parse("db.t1"), TableId.parse("db.t2")

    def _schema():
        return (
            new_schema()
            .physical_column("k", "BIGINT NOT NULL")
            .physical_column("v", "STRING")
            .primary_key("k")
            .build()
        )

    rows = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("customer")
        .select("c_custkey", "c_name", "c_nationkey")
        .collect()
    )
    events = [CreateTableEvent(t1, _schema()), CreateTableEvent(t2, _schema())]
    for r in rows:
        if r.c_custkey % 4 < 2:
            tid = t1 if r.c_custkey % 2 == 0 else t2
            events.append(DataChangeEvent.insert(tid, (r.c_custkey, r.c_name)))
    events.append(AddColumnEvent.last(t1, Column("x", ct.int_())))
    events.append(AddColumnEvent.last(t2, Column("x", ct.int_())))  # dup on sink
    for r in rows:
        if r.c_custkey % 4 >= 2:
            tid = t1 if r.c_custkey % 2 == 0 else t2
            events.append(
                DataChangeEvent.insert(tid, (r.c_custkey, r.c_name, r.c_nationkey))
            )
    return events


def schema_evolution_try_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY_EVOLVE behavior: the conflicting second ADD is swallowed, data
    for the already-present sink column still lands by name."""
    from .pipeline.composer import EventPipelineComposer

    yaml_text = """
source: {type: values}
sink: {type: values}
route:
  - source-table: db.\\.*
    sink-table: sink.merged
pipeline: {execution.runtime-mode: BATCH, schema.change.behavior: TRY_EVOLVE}
"""
    composer = EventPipelineComposer(spark, parse_pipeline_yaml(yaml_text))
    result = composer.run(_try_evolve_events(spark, sf_dir))
    return result.tables["sink.merged"]


@register(
    "schema_evolution_behaviors",
    """
    SELECT 'ignore' AS behavior, c_custkey AS pk, c_name AS name,
           CAST(c_nationkey AS BIGINT) AS aux, c_acctbal AS acctbal
    FROM customer
    UNION ALL
    SELECT 'exclude_add_column' AS behavior, c_custkey AS pk, c_name AS name,
           CAST(c_nationkey AS BIGINT) AS aux, c_acctbal AS acctbal
    FROM customer
    UNION ALL
    SELECT 'try_evolve' AS behavior, c_custkey AS pk, c_name AS name,
           CAST(CASE WHEN c_custkey % 4 >= 2 THEN c_nationkey ELSE NULL END AS BIGINT) AS aux,
           CAST(NULL AS DOUBLE) AS acctbal
    FROM customer
    """,
)
def schema_evolution_behaviors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-capacity merge (r13): the three per-behavior rows
    (`schema_evolution_ignore`, `schema_evolution_exclude_add_column`,
    `schema_evolution_try_evolve`) gate as ONE multi-behavior row — each
    branch still runs its own composer end-to-end (SchemaChangeBehavior
    IGNORE / EVOLVE-with-excluded-ADD_COLUMN / TRY_EVOLVE,
    SchemaChangeBehavior.java:28-32), the results union with a `behavior`
    tag so any branch diverging fails the single hash gate."""
    from pyspark.sql import functions as F

    from .streaming.windowed import scoped_shuffle_partitions

    # the composers materialize customer-sized event streams eagerly —
    # scope their shuffles to the table size, not the session width
    with scoped_shuffle_partitions(spark, 8):
        branches = [
            ("ignore", schema_evolution_ignore(spark, sf_dir),
             "c_custkey", "c_name", "c_nationkey", "c_acctbal"),
            ("exclude_add_column",
             schema_evolution_exclude_add_column(spark, sf_dir),
             "c_custkey", "full_name", "c_nationkey", "c_acctbal"),
            ("try_evolve", schema_evolution_try_evolve(spark, sf_dir),
             "k", "v", "x", None),
        ]
    out = None
    for tag, df, pk, name, aux, bal in branches:
        bal_col = (
            F.col(bal).cast("double") if bal is not None
            else F.lit(None).cast("double")
        )
        part = df.select(
            F.lit(tag).alias("behavior"),
            F.col(pk).cast("bigint").alias("pk"),
            F.col(name).alias("name"),
            F.col(aux).cast("bigint").alias("aux"),
            bal_col.alias("acctbal"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# §2.2 Kafka changelog formats: envelope -> debezium-json -> envelope -> state
# ---------------------------------------------------------------------------


@register(
    "kafka_codec_roundtrip",
    """
    WITH st AS (
      SELECT o_orderkey,
             CASE WHEN (o_orderkey % 10) = 3 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
             CASE WHEN (o_orderkey % 10) = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
      FROM orders
      WHERE (o_orderkey % 20) <> 7
    )
    SELECT 'debezium' AS codec, * FROM st
    UNION ALL
    SELECT 'canal' AS codec, * FROM st
    """,
)
def kafka_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog -> Kafka-sink records -> decoded envelope -> materialized
    state, through BOTH codec paths the reference's Kafka sink emits —
    debezium-json and canal-json (KafkaDataSinkOptions.value.format) —
    union-tagged by codec (r14 capacity-policy MERGE of
    kafka_debezium_roundtrip + kafka_canal_roundtrip: each branch still
    runs its own encode/decode end-to-end; one hash gate covers both
    branches' rows distinctly via the tag)."""
    from .sinks.materialize import materialize_changelog
    from .sources.envelope import payload_struct
    from .sources.kafka_json import (
        decode_canal_json,
        decode_debezium_json,
        encode_canal_json,
        encode_debezium_json,
    )

    def image(side):
        # project the image to 3 columns, preserving NULL-ness of the image
        return (
            f"CASE WHEN {side} IS NULL THEN NULL ELSE "
            f"struct({side}.o_orderkey, {side}.o_totalprice, {side}.o_orderstatus) END"
        )

    env = (
        ParquetTableSource(spark, sf_dir)
        .changelog("orders", "db.orders", _ORDERS_MUT)
        .selectExpr(
            "__table_id",
            "__op",
            image("before") + " AS before",
            image("after") + " AS after",
            "__meta",
            "__seq",
        )
    )
    payload = payload_struct(env)
    deb = materialize_changelog(
        decode_debezium_json(encode_debezium_json(env), payload),
        ["o_orderkey"],
    ).select(F.lit("debezium").alias("codec"), "*")
    can = materialize_changelog(
        decode_canal_json(
            encode_canal_json(env, pk_names=["o_orderkey"]), payload
        ),
        ["o_orderkey"],
    ).select(F.lit("canal").alias("codec"), "*")
    return deb.unionByName(can)


@register(
    "kafka_segment_log_roundtrip",
    """
    SELECT o_orderkey,
           CASE WHEN (o_orderkey % 10) = 3 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN (o_orderkey % 10) = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
    FROM orders
    WHERE (o_orderkey % 20) <> 7
    """,
)
def kafka_segment_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka path over the broker's ACTUAL storage format: debezium
    records framed into RecordBatch v2 .log segments (varint/zigzag
    records, CRC-32C-verified batches), read back with one executor task
    per segment and decoded to the same oracle state. Fixture ingest
    (writing the segments) is driver-side by necessity; the engine's read
    is segment-parallel executor-side.

    Perf note (r9): the r8 bench recorded 6.42s vs r7's 1.97s with no
    code change; isolated re-bench at sf0.1 measures 2.06-2.58s
    steady-state (warm fixture) — the regression was co-tenant
    contention, not the wire decoder. Real-scale parallelism is one
    task per segment; a production topic has many segments."""
    import hashlib
    import os

    from .sinks.materialize import materialize_changelog
    from .sources.envelope import payload_struct
    from .sources.kafka_json import decode_debezium_json, encode_debezium_json
    from .sources.kafka_segment_wire import read_topic_segments, write_segment

    pin_session(spark)

    def image(side):
        return (
            f"CASE WHEN {side} IS NULL THEN NULL ELSE "
            f"struct({side}.o_orderkey, {side}.o_totalprice, {side}.o_orderstatus) END"
        )

    env = (
        ParquetTableSource(spark, sf_dir)
        .changelog("orders", "db.orders", _ORDERS_MUT)
        .selectExpr(
            "__table_id", "__op",
            image("before") + " AS before", image("after") + " AS after",
            "__meta", "__seq",
        )
    )
    payload = payload_struct(env)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_kafkaseg/{key}"
    if not os.path.exists(f"{root}/_READY"):
        os.makedirs(root, exist_ok=True)
        docs = [
            (str(r["__offset"]).encode(), r["value"].encode())
            for r in encode_debezium_json(env)
            .selectExpr("__offset", "value")
            .orderBy("__offset")
            .collect()
        ]
        # 4 segments of record batches (500 records each), rolling offsets
        per_seg = -(-len(docs) // 4)
        base = 0
        for s in range(4):
            chunk = docs[s * per_seg:(s + 1) * per_seg]
            if not chunk:
                continue
            batches = [chunk[i:i + 500] for i in range(0, len(chunk), 500)]
            base = write_segment(
                f"{root}/{base:020d}.log", batches, base_offset=base
            )
        with open(f"{root}/_READY", "w") as f:
            f.write("ok")
    records = read_topic_segments(spark, f"{root}/*.log")
    decoded = decode_debezium_json(
        records.selectExpr("value", "offset AS __offset"), payload
    )
    return materialize_changelog(decoded, ["o_orderkey"])


@register(
    "kafka_source_topic_replay",
    """
    SELECT o_orderkey,
           CASE WHEN (o_orderkey % 10) = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
    FROM orders
    WHERE (o_orderkey % 20) <> 7 AND (o_orderkey % 5) IN (0, 2, 3)
    """,
)
def kafka_source_topic_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kafka SOURCE (sources/kafka_source.py): debezium records the
    sink framed into RecordBatch v2 segments replayed through the
    `type: kafka` resolver — per-table payload schemas INFERRED from the
    row images (no schema handed in, unlike the codec roundtrip rows),
    one executor task per segment, then materialized to the oracle state.
    Images project to (o_orderkey, o_orderstatus) so JSON inference is
    exact (int64 + string; floating-point would round-trip lossily)."""
    import hashlib
    import os

    from .sinks.materialize import materialize_changelog
    from .sources.kafka_json import encode_debezium_json
    from .sources.kafka_segment_wire import write_segment
    from .sources.kafka_source import kafka_streams

    pin_session(spark)

    def image(side):
        return (
            f"CASE WHEN {side} IS NULL THEN NULL ELSE "
            f"struct({side}.o_orderkey, {side}.o_orderstatus) END"
        )

    # the %5-residue subset keeps fixture ingest (a driver-side write by
    # necessity, as in kafka_segment_log_roundtrip) bounded at sf0.1
    # while replaying the identical decode/inference/materialize paths.
    # Residues {0, 2, 3} retain the mutation keys — updates are
    # %10 == 3 (residue 3) and deletes %20 == 7 (residue 2) — so U and D
    # records actually flow through the kafka source decode (a %5 == 0
    # subset would replay an insert-only topic and gate the U/D paths
    # vacuously; r8 ADVICE).
    env = (
        ParquetTableSource(spark, sf_dir)
        .changelog("orders", "db.orders", _ORDERS_MUT)
        .where("coalesce(after.o_orderkey, before.o_orderkey) % 5 IN (0, 2, 3)")
        .selectExpr(
            "__table_id", "__op",
            image("before") + " AS before", image("after") + " AS after",
            "__meta", "__seq",
        )
    )
    key = hashlib.md5(f"{sf_dir}|mod5-023".encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_kafkasrc/{key}"
    if not os.path.exists(f"{root}/_READY"):
        os.makedirs(root, exist_ok=True)
        docs = [
            (str(r["__offset"]).encode(), r["value"].encode())
            for r in encode_debezium_json(env)
            .selectExpr("__offset", "value")
            .orderBy("__offset")
            .collect()
        ]
        per_seg = -(-len(docs) // 4)
        base = 0
        for s in range(4):
            chunk = docs[s * per_seg:(s + 1) * per_seg]
            if not chunk:
                continue
            batches = [chunk[i:i + 500] for i in range(0, len(chunk), 500)]
            base = write_segment(
                f"{root}/{base:020d}.log", batches, base_offset=base
            )
        with open(f"{root}/_READY", "w") as f:
            f.write("ok")
    streams = list(
        kafka_streams(
            spark,
            {
                "topic-dir": root,
                "value.format": "debezium-json",
                "primary-key.db.orders": "o_orderkey",
            },
        )
    )
    assert len(streams) == 1 and str(streams[0].table_id) == "db.orders"
    return materialize_changelog(streams[0].df, ["o_orderkey"])


@register(
    "es_bulk_roundtrip",
    """
    SELECT o_orderkey,
           CASE WHEN (o_orderkey % 10) = 3 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN (o_orderkey % 10) = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
    FROM orders
    WHERE (o_orderkey % 20) <> 7
    """,
)
def es_bulk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch sink path (ElasticsearchEventSerializer scope):
    changelog -> _bulk NDJSON requests (index/delete ops, PK-joined _id)
    -> decoded back -> materialized index state. The network half needs a
    server; the wire bytes are what this gates — same strategy as the
    Kafka codec roundtrips."""
    from .sinks.elasticsearch_sink import decode_es_bulk, encode_es_bulk
    from .sinks.materialize import materialize_changelog

    def image(side):
        return (
            f"CASE WHEN {side} IS NULL THEN NULL ELSE "
            f"struct({side}.o_orderkey, {side}.o_totalprice, {side}.o_orderstatus) END"
        )

    env = (
        ParquetTableSource(spark, sf_dir)
        .changelog("orders", "db.orders", _ORDERS_MUT)
        .selectExpr(
            "__table_id",
            "__op",
            image("before") + " AS before",
            image("after") + " AS after",
            "__meta",
            "__seq",
        )
    )
    from .sources.envelope import payload_struct

    payload = payload_struct(env)
    bulk = encode_es_bulk(env, pk_names=["o_orderkey"])
    decoded = decode_es_bulk(bulk, payload, table_id="db.orders")
    return materialize_changelog(decoded, ["o_orderkey"])


# ---------------------------------------------------------------------------
# §7 phase 4: Structured Streaming pipeline (foreachBatch + DDL barrier)
# ---------------------------------------------------------------------------


@register(
    "streaming_pipeline_evolution",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal,
           CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def streaming_pipeline_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as schema_evolution_add_column, but executed through
    the Structured Streaming runner: the event stream is serialized to the
    JSON wire format in two files (two micro-batches), streamed with
    availableNow, mid-batch DDL splits the batch at the barrier, and the
    materialized state store is the result."""
    import shutil
    import tempfile

    from .streaming import StreamingPipelineRunner
    from .streaming.wire import write_wire_file

    events = _customer_evolution_events(spark, sf_dir)
    # split at the AddColumnEvent: batch 1 = v1 inserts, batch 2 = DDL + v2
    split_at = next(
        i for i, ev in enumerate(events) if type(ev).__name__ == "AddColumnEvent"
    )
    work = tempfile.mkdtemp(prefix="cdc_stream_")
    try:
        src = f"{work}/src"
        import os

        os.makedirs(src)
        write_wire_file(f"{src}/b0.json", events[:split_at])
        # re-prefix the second file with the create so serialization knows
        # the schema; the runner's coordinator treats the replay as a no-op
        from .core.events import CreateTableEvent

        head = [ev for ev in events[:split_at] if isinstance(ev, CreateTableEvent)]
        write_wire_file(f"{src}/b1.json", head + events[split_at:], seq_start=split_at)
        runner = StreamingPipelineRunner(
            spark,
            parse_pipeline_yaml(
                """
source: {type: wire}
sink: {type: state}
pipeline: {schema.change.behavior: EVOLVE}
"""
            ),
            state_root=f"{work}/state",
            checkpoint_dir=f"{work}/ckpt",
        )
        runner.run_available(src)
        # materialize the final state eagerly, then release the temp dir
        result = runner.state.read("db.customer")
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _wm_oracle():
    from .streaming.windowed import windowed_watermark_oracle_sql

    return windowed_watermark_oracle_sql()


@register("streaming_windowed_watermark", _wm_oracle())
def streaming_windowed_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-day windowed aggregation over a deterministically
    replayed event stream (brief: 'watermarks + windowed aggs for late
    data'): three time-striped replay batches with salted late stragglers,
    maxFilesPerTrigger=1 micro-batch order, delay-0 watermark drops, append
    mode emits finalized windows — all reproduced closed-form by the
    oracle."""
    import tempfile

    from .streaming.windowed import (
        windowed_watermark_aggregate,
        write_replay_batches,
    )

    import hashlib
    import os

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_wm/{key}/src"
    marker = f"{staged}/_READY"
    if not os.path.exists(marker):
        events = (
            ParquetTableSource(spark, sf_dir)
            .snapshot("events")
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
        write_replay_batches(events, staged)
        with open(marker, "w") as f:
            f.write("ok")
    # the streaming run itself is per-invocation: fresh checkpoint, same
    # deterministic replay
    work = tempfile.mkdtemp(prefix="cdc_wm_", dir="/tmp")
    return windowed_watermark_aggregate(spark, staged, f"{work}/run")


def _stream_sessions_oracle():
    from .datapipe import sessions

    return sessions.sessionize_native_oracle_sql()


@register("streaming_session_windows", _stream_sessions_oracle())
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming session windows: the events table replayed
    through a watermarked `session_window` (session-store merges,
    watermark finalization, append emission), flushed by per-user
    sentinel events; the drained output equals the batch gap-scan
    closed form — the sessionize_native oracle."""
    import tempfile

    from .datapipe.sessions import DEFAULT_GAP_MINUTES
    from .sources.parquet_source import ParquetTableSource
    from .streaming.session_windows import streaming_session_windows as run_ssw

    pin_session(spark)
    ev = ParquetTableSource(spark, sf_dir).snapshot("events")
    work = tempfile.mkdtemp(prefix="cdc_ssw_", dir="/tmp")
    return run_ssw(spark, ev, work, DEFAULT_GAP_MINUTES)


def _ttl_dedup_oracle():
    from .streaming.ttl_dedup import ttl_dedup_oracle_sql

    return ttl_dedup_oracle_sql()


@register("streaming_ttl_dedup", _ttl_dedup_oracle())
def streaming_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup via dropDuplicatesWithinWatermark:
    four 7-day replay stripes, 4-day TTL. Duplicates inside the
    watermark window are dropped, state is evicted by the advancing
    watermark, and a key re-arriving after eviction is emitted AGAIN —
    the oracle replays the probed batch/watermark/eviction schedule
    closed-form (streaming/ttl_dedup.py)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming.ttl_dedup import stage_ttl_batches, streaming_ttl_dedup as run_ttl

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_ttl/{key}"
    marker = f"{staged}/_READY"
    if not os.path.exists(marker):
        shutil.rmtree(staged, ignore_errors=True)
        events = ParquetTableSource(spark, sf_dir).snapshot("events")
        stage_ttl_batches(events, staged)
        with open(marker, "w") as f:
            f.write("ok")
    # persistent emit root (results must not transit the driver); each
    # invocation emits into its own subdir — only PREDECESSOR runs are
    # deleted, so the previous invocation's returned DataFrame stays
    # readable until the run after next
    from .streaming.windowed import rotate_emit_dir

    emit = rotate_emit_dir(f"{staged}_emit")
    work = tempfile.mkdtemp(prefix="cdc_ttl_", dir="/tmp")
    return run_ttl(spark, staged, work, emit)


def _retract_agg_oracle():
    from .streaming.retract_agg import retract_aggregate_oracle_sql

    final_sql = _ORDERS_MUT.oracle_final_state_sql(
        "orders", ["o_orderkey", "o_orderstatus", "o_totalprice", "o_custkey"]
    )
    return retract_aggregate_oracle_sql(final_sql, "o_orderstatus", "o_totalprice")


@register("streaming_retract_aggregate", _retract_agg_oracle())
def streaming_retract_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained GROUP BY aggregate under a CDC changelog
    (Flink's accumulate/retract protocol): the orders changelog replayed
    as three micro-batches (inserts, then the group-MOVING updates —
    o_orderstatus flips to 'U' — then deletes),
    each epoch merging map-side-combined (group, delta) contributions
    into an LSM state table keyed by group — one touched-groups-only
    delta commit per epoch, replay-overwritten by epoch provenance
    (idempotent foreachBatch). The maintained state must equal a from-scratch
    aggregate over the post-changelog final state — the oracle. Money in
    exact integer cents (tpch_q1 discipline)."""
    import hashlib
    import os
    import tempfile

    from .streaming.retract_agg import RetractAggregateStream

    pin_session(spark)
    # staging is deterministic per sf_dir: share it across runs (the
    # windowed-watermark pattern); checkpoint + state stay per-run
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    # /3b suffix: staging layout version (three-epoch replay) — a stale
    # four-epoch staging under the old path must not be reused
    staged = f"/tmp/flink_cdc_spark_retract/{key}/3b"
    work = tempfile.mkdtemp(prefix="cdc_retract_", dir="/tmp")
    ra = RetractAggregateStream(
        spark, work, "o_orderstatus", "o_totalprice", staged_dir=staged
    )
    if not ra.staged():
        env = ParquetTableSource(spark, sf_dir).changelog(
            "orders", "default.orders", _ORDERS_MUT
        )
        ra.stage(env)
    ra.run()
    return ra.current_state()


def _retract_topn_oracle():
    from .streaming.retract_topn import retract_topn_oracle_sql

    fs = _ORDERS_MUT.oracle_final_state_sql(
        "orders", ["o_orderkey", "o_orderstatus", "o_totalprice", "o_custkey"]
    )
    return retract_topn_oracle_sql(
        fs, key="o_orderkey", group="o_custkey", value="o_totalprice", n=2
    )


@register("streaming_retract_topn", _retract_topn_oracle())
def streaming_retract_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Top-N maintained under the orders changelog (Flink
    SQL's retract rank operator): each epoch recomputes the Top-2 only
    for customer groups the batch touched — including the BEFORE-image
    group of updates — and commits just those groups' rank rows (plus
    tombstones for vacated rank slots) as LSM deltas; untouched groups
    stay in their original commits. The maintained view must equal a
    from-scratch row_number() over the post-changelog final state (the
    oracle). Money in exact cents."""
    import hashlib
    import tempfile

    from .streaming.retract_topn import RetractTopNStream

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_rtopn/{key}"
    work = tempfile.mkdtemp(prefix="cdc_rtopn_", dir="/tmp")
    tn = RetractTopNStream(
        spark, work, key="o_orderkey", group="o_custkey",
        value="o_totalprice", n=2, staged_dir=staged,
    )
    if not tn.staged():
        env = ParquetTableSource(spark, sf_dir).changelog(
            "orders", "default.orders", _ORDERS_MUT
        )
        tn.stage(env)
    tn.run()
    return tn.current_topn()


_CUST_VIEW_MUT = MutationSpec(
    key_column="c_custkey",
    update_exprs={"c_acctbal": "c_acctbal + 50", "c_mktsegment": "'VIEWSEG'"},
)

_VIEW_SUPERSET = [
    ("o_orderkey", "bigint"),
    ("o_totalprice", "double"),
    ("o_orderstatus", "string"),
    ("o_custkey", "bigint"),
    ("c_custkey", "bigint"),
    ("c_name", "string"),
    ("c_acctbal", "double"),
    ("c_mktsegment", "string"),
]


def _inc_join_oracle():
    fo = _ORDERS_MUT.oracle_final_state_sql(
        "orders", ["o_orderkey", "o_totalprice", "o_orderstatus", "o_custkey"]
    )
    fc = _CUST_VIEW_MUT.oracle_final_state_sql(
        "customer", ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    )
    return f"""
    WITH fo AS ({fo}), fc AS ({fc})
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
           c_name, c_acctbal, c_mktsegment
    FROM fo JOIN fc ON o_custkey = c_custkey
    """


@register("streaming_incremental_join_view", _inc_join_oracle())
def streaming_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance: orders ⋈ customer kept
    correct under I/U/D on BOTH sides, replayed as four interleaved
    micro-batches over one harmonized-payload stream. Each epoch repairs
    only view rows whose left pk or join key the batch touched (broadcast
    semi/anti-joins on the delta-sized key sets — the unaffected bulk
    carries forward untouched) and is idempotent under foreachBatch
    retry (epoch-keyed state versions). Oracle: the maintained view ==
    the batch join of the two post-changelog final states — customer
    deletes must drop their orders' view rows, customer updates must
    rewrite every referencing row."""
    import hashlib
    import tempfile

    from .streaming.incremental_join import IncrementalJoinView, harmonize_envelope

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_incjoin/{key}"
    work = tempfile.mkdtemp(prefix="cdc_incjoin_", dir="/tmp")
    ijv = IncrementalJoinView(
        spark,
        work,
        left_table_id="default.orders",
        right_table_id="default.customer",
        pk_left="o_orderkey",
        join_key="o_custkey",
        pk_right="c_custkey",
        left_cols=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        right_cols=["c_custkey", "c_name", "c_acctbal", "c_mktsegment"],
        staged_dir=staged,
    )
    if not ijv.staged():
        src = ParquetTableSource(spark, sf_dir)
        orders_env = harmonize_envelope(
            src.changelog("orders", "default.orders", _ORDERS_MUT), _VIEW_SUPERSET
        )
        cust_env = harmonize_envelope(
            src.changelog("customer", "default.customer", _CUST_VIEW_MUT),
            _VIEW_SUPERSET,
        )
        ijv.stage(orders_env.unionByName(cust_env))
    ijv.run()
    # parquet-backed result: the state dir outlives the call, so no
    # driver roundtrip of the 135k-row view is needed
    return ijv.current_view()


def _enrich_oracle():
    from .streaming.enrich import stream_static_enrich_oracle_sql

    return stream_static_enrich_oracle_sql()


def _stream_join_oracle():
    from .streaming.stream_join import stream_interval_join_oracle_sql

    return stream_interval_join_oracle_sql()


@register("streaming_interval_join", _stream_join_oracle())
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click-to-view attribution within a
    bounded window): both sides replay from the same staged batches, so
    matches span micro-batches and sit in two-sided join state until the
    partner arrives. Watermark delay beyond the dataset span keeps it
    lossless — drained output == the batch pair join (the oracle)."""
    import hashlib
    import os
    import tempfile

    from .streaming.stream_join import stream_interval_join
    from .streaming.windowed import write_replay_batches

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_wm/{key}/src"
    marker = f"{staged}/_READY"
    if not os.path.exists(marker):
        events = (
            ParquetTableSource(spark, sf_dir)
            .snapshot("events")
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
        write_replay_batches(events, staged)
        with open(marker, "w") as f:
            f.write("ok")
    work = tempfile.mkdtemp(prefix="cdc_sjoin_", dir="/tmp")
    # the emit dir outlives the call: return the executor-side parquet
    # directly — the pair-join output is corpus-proportional and must not
    # round-trip through the driver
    return stream_interval_join(spark, staged, work)


@register("streaming_static_enrich", _enrich_oracle())
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the replayed event stream LEFT-joined per
    micro-batch (maxFilesPerTrigger=1) to the customer dimension,
    emissions appended executor-side via foreachBatch. Stateless, so the
    union of per-batch outputs equals the plain batch join — the oracle;
    what the row gates is the streaming-machinery path (per-batch static
    re-plan + broadcast + append sink)."""
    import hashlib
    import os
    import tempfile

    from .streaming.enrich import stream_static_enrich
    from .streaming.windowed import write_replay_batches

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    staged = f"/tmp/flink_cdc_spark_wm/{key}/src"
    marker = f"{staged}/_READY"
    if not os.path.exists(marker):
        events = (
            ParquetTableSource(spark, sf_dir)
            .snapshot("events")
            .select("event_id", "ts", "user_id", "event_type", "value")
        )
        write_replay_batches(events, staged)
        with open(marker, "w") as f:
            f.write("ok")
    dim = ParquetTableSource(spark, sf_dir).snapshot("customer")
    work = tempfile.mkdtemp(prefix="cdc_enrich_", dir="/tmp")
    # emit dir persists; the enriched stream is corpus-proportional —
    # return the parquet read, not a driver round-trip
    return stream_static_enrich(spark, staged, dim, f"{work}/run")


@register(
    "distributed_schema_reduction",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 3 IN (1, 2) THEN c_acctbal ELSE NULL END AS c_acctbal,
           CASE WHEN c_custkey % 3 = 2 THEN c_mktsegment ELSE NULL END AS c_mktsegment
    FROM customer
    """,
)
def distributed_schema_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed schema evolution against a live parallel-metadata
    stream: three wire files (= three stream partitions) carry the same
    table with DIVERGENT payload schemas and no in-band DDL; each
    partition infers its schema executor-side, the driver folds them to
    the least-common schema and derives DDL through the coordinator
    (runtime/operators/schema/distributed/SchemaCoordinator.java), and the
    batch then merges under the reduced schema."""
    import json as _json
    import os
    import shutil
    import tempfile

    from .streaming import StreamingPipelineRunner

    pin_session(spark)
    rows = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .collect()
    )
    work = tempfile.mkdtemp(prefix="cdc_dist_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        seq = 0
        files = {s: open(f"{src}/part{s}.json", "w") for s in range(3)}
        try:
            for r in rows:
                stripe = r.c_custkey % 3
                payload = {"c_custkey": r.c_custkey, "c_name": r.c_name}
                if stripe >= 1:
                    payload["c_acctbal"] = r.c_acctbal
                if stripe == 2:
                    payload["c_mktsegment"] = r.c_mktsegment
                files[stripe].write(
                    _json.dumps(
                        {
                            "kind": "DATA",
                            "table_id": "db.customer",
                            "op": "INSERT",
                            "before": None,
                            "after": _json.dumps(payload),
                            "meta": {},
                            "seq": seq,
                        }
                    )
                    + "\n"
                )
                seq += 1
        finally:
            for f in files.values():
                f.close()
        runner = StreamingPipelineRunner(
            spark,
            parse_pipeline_yaml(
                """
source: {type: wire}
sink: {type: lake}
pipeline: {schema.change.behavior: EVOLVE}
"""
            ),
            state_root=f"{work}/state",
            checkpoint_dir=f"{work}/ckpt",
            parallel_metadata=True,
            primary_keys={"db.customer": ["c_custkey"]},
        )
        runner.run_available(src)
        result = runner.state.read("db.customer").select(
            "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
        )
        rows_out = result.collect()
        return spark.createDataFrame(rows_out, result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "lake_merge_evolution",
    """
    SELECT c_custkey, c_name AS full_name, c_nationkey, c_acctbal,
           CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def lake_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake sink executed for real: the streaming runner writes into
    the LSM merge-on-read store (sinks/lsm_store.py — the Paimon table
    format's storage contract), so every micro-batch is an O(batch) delta
    commit and the mid-stream ADD COLUMN + RENAME COLUMN are applied as
    metadata-only operations (PaimonMetadataApplier.java semantics) — no
    state rewrite anywhere. EVOLVE behavior renames in place; early rows'
    c_name values surface under full_name purely through read-time
    mapping."""
    import os
    import shutil
    import tempfile

    from .streaming import StreamingPipelineRunner
    from .streaming.wire import write_wire_file

    pin_session(spark)
    events = _customer_evolution_events(spark, sf_dir, rename=True)
    split_at = next(
        i for i, ev in enumerate(events) if type(ev).__name__ == "AddColumnEvent"
    )
    work = tempfile.mkdtemp(prefix="cdc_lake_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        write_wire_file(f"{src}/b0.json", events[:split_at])
        from .core.events import CreateTableEvent

        head = [ev for ev in events[:split_at] if isinstance(ev, CreateTableEvent)]
        write_wire_file(f"{src}/b1.json", head + events[split_at:], seq_start=split_at)
        runner = StreamingPipelineRunner(
            spark,
            parse_pipeline_yaml(
                """
source: {type: wire}
sink: {type: lake}
pipeline: {schema.change.behavior: EVOLVE}
"""
            ),
            state_root=f"{work}/state",
            checkpoint_dir=f"{work}/ckpt",
        )
        runner.run_available(src)
        result = runner.state.read("db.customer")
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# live JDBC database source, end-to-end (sources/jdbc_live.py)
# ---------------------------------------------------------------------------

# deterministic mutation recipe applied to the live DB after loading the
# parquet snapshot — SQL-expressible, so the DuckDB oracle reproduces the
# exact final state without ever seeing the database
_JDBC_MUTATIONS = [
    "UPDATE CUSTOMER SET C_ACCTBAL = C_ACCTBAL + 100 WHERE MOD(C_CUSTKEY, 10) = 3",
    "UPDATE CUSTOMER SET C_MKTSEGMENT = 'MOVED' WHERE MOD(C_CUSTKEY, 7) = 2",
    "DELETE FROM CUSTOMER WHERE MOD(C_CUSTKEY, 20) = 7",
]

_JDBC_ORACLE = """
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 7 = 2 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
FROM customer
WHERE c_custkey % 20 <> 7
"""

_CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _jdbc_customer_db(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) a live Derby database seeded from the
    customer parquet, with trigger-based changelog capture installed, and
    the deterministic mutations applied through real SQL so the capture
    triggers produce a real changelog. Fixture loading is driver-side by
    necessity (it is the test database's ingest, not the engine's read
    path); every engine-side byte then flows through executor JDBC."""
    import hashlib
    import os
    import shutil

    from .sources.jdbc_live import JdbcEndpoint, derby_url, install_capture

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_jdbc/{key}"
    db, marker = f"{root}/db", f"{root}/_READY"
    if os.path.exists(marker):
        return db
    shutil.rmtree(root, ignore_errors=True)  # half-built leftovers
    os.makedirs(root, exist_ok=True)
    ep = JdbcEndpoint(spark, derby_url(db))
    ep.execute(
        "CREATE TABLE CUSTOMER ("
        "C_CUSTKEY BIGINT NOT NULL PRIMARY KEY, C_NAME VARCHAR(200), "
        "C_NATIONKEY INTEGER, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(64))"
    )
    install_capture(ep, "customer", _CUSTOMER_COLS)
    snap = ParquetTableSource(spark, sf_dir).snapshot("customer")
    rows = [tuple(r) for r in snap.select(*_CUSTOMER_COLS).collect()]
    ep.insert_rows("CUSTOMER", [c.upper() for c in _CUSTOMER_COLS], rows)
    for sql in _JDBC_MUTATIONS:
        ep.execute_update(sql)
    with open(marker, "w") as f:
        f.write("ok")
    return db


@register("jdbc_snapshot_stream_handoff", _JDBC_ORACLE)
def jdbc_snapshot_stream_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's reason to exist, end-to-end on a live database:
    schema discovery -> chunked-parallel spark.read.jdbc snapshot with
    per-chunk LW/HW watermarks -> changelog tail from trigger capture ->
    snapshot_with_tail merge -> materialized state. A concurrent (value-
    idempotent) write lands mid-snapshot via the hook, so the handoff
    filter genuinely decides per-chunk which tail events to keep."""
    pin_session(spark)
    db = _jdbc_customer_db(spark, sf_dir)
    from .sinks.materialize import materialize_changelog
    from .sources.jdbc_live import JdbcLiveSource, JdbcLiveSourceConfig, derby_url
    from .sources.jdbc_snapshot import StartupMode

    cfg = JdbcLiveSourceConfig(
        url=derby_url(db, create=False),
        table="customer",
        key_column="c_custkey",
        table_id="app.customer",
        startup_mode=StartupMode.INITIAL,
    )
    src = JdbcLiveSource(spark, cfg)
    _, _, cnt = src._probe()
    # multi-chunk AND multi-wave: ~12 chunks in waves of 4, so the
    # mid-scan write genuinely lands between two bracketed parallel waves
    src.cfg.chunk_size = max(cnt // 12, 16)
    src.cfg.snapshot_pool = 4

    def concurrent_touch():
        # value-idempotent concurrent write: real log events mid-snapshot,
        # same final state on every invocation (keeps the oracle exact)
        src.ep.execute_update(
            "UPDATE CUSTOMER SET C_NAME = C_NAME WHERE MOD(C_CUSTKEY, 13) = 1"
        )

    env = src.read(mid_scan_hook=concurrent_touch)
    final = materialize_changelog(env, ["c_custkey"])
    pinned = _pin_state(spark, final.select(*_CUSTOMER_COLS), "jdbc_handoff")
    src.release_caches()  # state written out: the wave caches can go
    return pinned


@register(
    "jdbc_newly_added_table",
    """
    SELECT 'app.region' AS src_table, r_regionkey AS rec_key,
           CASE WHEN r_regionkey = 1 THEN 'MOVED' ELSE r_name END AS rec_name
    FROM region
    UNION ALL
    SELECT 'app.nation', n_nationkey, n_name
    FROM nation
    WHERE (n_nationkey % 6) <> 2
    """,
)
def jdbc_newly_added_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan.newly-added-table.enabled end-to-end on a live database
    (SnapshotSplitAssigner.java:235-287 scope): the pipeline bootstraps
    with only REGION captured; NATION is created AFTER the streaming
    phase starts, gets discovered on rescan, snapshotted, and then
    streams (post-snapshot deletes land) — while REGION's own stream
    keeps flowing (a mid-phase update lands without a re-snapshot)."""
    import shutil
    import tempfile

    from .pipeline.cdc_pipeline import MultiTableCdcPipeline
    from .sources.jdbc_live import JdbcEndpoint, derby_url, install_capture

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="newtab_contract_")
    try:
        ep = JdbcEndpoint(spark, derby_url(f"{root}/db"))
        ep.execute(
            "CREATE TABLE REGION (R_REGIONKEY BIGINT NOT NULL PRIMARY KEY, "
            "R_NAME VARCHAR(64))"
        )
        install_capture(ep, "region", ["r_regionkey", "r_name"])
        ep.insert_rows(
            "REGION", ["R_REGIONKEY", "R_NAME"],
            [tuple(r) for r in src.snapshot("region")
             .select("r_regionkey", "r_name").collect()],
        )
        url = derby_url(f"{root}/db", create=False)
        loop = MultiTableCdcPipeline(
            spark, url, f"{root}/state", tables_selector=r"app.\.*",
            chunk_size=16, shuffle_partitions=8,
        )
        loop.bootstrap()
        loop.poll_once()

        # streaming phase: NATION appears, REGION keeps changing
        ep.execute(
            "CREATE TABLE NATION (N_NATIONKEY BIGINT NOT NULL PRIMARY KEY, "
            "N_NAME VARCHAR(64))"
        )
        install_capture(ep, "nation", ["n_nationkey", "n_name"])
        ep.insert_rows(
            "NATION", ["N_NATIONKEY", "N_NAME"],
            [tuple(r) for r in src.snapshot("nation")
             .select("n_nationkey", "n_name").collect()],
        )
        ep.execute_update("UPDATE REGION SET R_NAME = 'MOVED' WHERE R_REGIONKEY = 1")
        added = loop.capture_newly_added()
        if added != ["app.nation"]:
            raise AssertionError(f"expected app.nation discovered, got {added}")
        # post-snapshot stream traffic on the NEW table
        ep.execute_update("DELETE FROM NATION WHERE MOD(N_NATIONKEY, 6) = 2")
        loop.poll_once()

        region = loop.current_state("app.region").select(
            F.lit("app.region").alias("src_table"),
            F.col("r_regionkey").alias("rec_key"),
            F.col("r_name").alias("rec_name"),
        )
        nation = loop.current_state("app.nation").select(
            F.lit("app.nation").alias("src_table"),
            F.col("n_nationkey").alias("rec_key"),
            F.col("n_name").alias("rec_name"),
        )
        out = region.unionByName(nation)
        # the pin EXECUTES the lazy merge-on-read: evaluate it at the
        # pipeline's scoped width too (tiny per-table state relations)
        with loop._scope():
            return _pin_state(spark, out, "newtab")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "lake_partitioned_pruning",
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN (o_orderkey % 9) = 4 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE (o_orderkey % 18) <> 11 AND o_orderstatus = 'F'
    """,
)
def lake_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned LSM lake table (Paimon partition.key scope): the
    changelog commits hive-partitioned on o_orderstatus; the read applies
    its predicate per commit BEFORE the merge window, so the partition
    filter prunes whole directories at file listing — asserted on the
    plan, then the pruned state is oracle-compared."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from .sinks.lsm_store import LsmStateStore
    from .sources.envelope import payload_struct

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(
        key_column="o_orderkey",
        update_exprs={"o_totalprice": "o_totalprice * 2"},
        update_mod=9, update_rem=4, delete_mod=18, delete_rem=11,
    )
    env = src.changelog("orders", "lake.orders", mut)
    # project the payload down to the three checked columns (incl. the
    # partition column)
    keep = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    img = lambda side: F.when(
        F.col(side).isNotNull(),
        F.struct(*[F.col(f"{side}.{c}").alias(c) for c in keep]),
    )
    env = env.select(
        "__table_id", "__op",
        img("before").alias("before"), img("after").alias("after"),
        "__meta", "__seq",
    )
    struct = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="lsm_part_contract_")
    try:
        store = LsmStateStore(spark, root, compact_every=100)
        store.merge(
            "lake.orders", env, struct, ["o_orderkey"],
            partition_keys=["o_orderstatus"],
        )
        out = store.read("lake.orders", predicate="o_orderstatus = 'F'")
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "PartitionFilters: [" not in plan:
            raise AssertionError("expected a partition-pruned scan")
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        if "o_orderstatus" not in pf:
            raise AssertionError(f"partition filter not pruned: {pf!r}")
        return _pin_state(
            spark,
            out.select("o_orderkey", "o_orderstatus", "o_totalprice"),
            "lsm_part",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "iceberg_partitioned_pruning",
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN (o_orderkey % 9) = 4 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE (o_orderkey % 18) <> 11 AND o_orderstatus = 'F'
    """,
)
def iceberg_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Iceberg analog (`partition.key` identity spec): the
    changelog commits hive-partitioned on o_orderstatus with manifest
    partition-value summaries; the predicate read prunes manifests at
    metadata time AND the residual filter reaches the partitioned file
    listing (PartitionFilters asserted on the plan), then the pruned
    state is oracle-compared."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from .sinks.iceberg_store import IcebergTableStore

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(
        key_column="o_orderkey",
        update_exprs={"o_totalprice": "o_totalprice * 2"},
        update_mod=9, update_rem=4, delete_mod=18, delete_rem=11,
    )
    env = src.changelog("orders", "ice.orders", mut)
    keep = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    img = lambda side: F.when(
        F.col(side).isNotNull(),
        F.struct(*[F.col(f"{side}.{c}").alias(c) for c in keep]),
    )
    env = env.select(
        "__table_id", "__op",
        img("before").alias("before"), img("after").alias("after"),
        "__meta", "__seq",
    )
    struct = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="ice_part_contract_")
    try:
        store = IcebergTableStore(spark, root)
        store.create_table(
            "ice.orders", struct, ["o_orderkey"],
            partition_keys=["o_orderstatus"],
        )
        store.commit("ice.orders", env, struct)
        out = store.read("ice.orders", predicate={"o_orderstatus": "F"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "PartitionFilters: [" not in plan:
            raise AssertionError("expected a partition-pruned scan")
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        if "o_orderstatus" not in pf:
            raise AssertionError(f"partition filter not pruned: {pf!r}")
        return _pin_state(
            spark,
            out.select("o_orderkey", "o_orderstatus", "o_totalprice"),
            "ice_part",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "jdbc_startup_latest_offset",
    """
    SELECT s_suppkey, s_name, CAST(999.5 AS DOUBLE) AS s_acctbal
    FROM supplier
    WHERE (s_suppkey % 5) = 2 AND (s_suppkey % 7) <> 3
    """,
)
def jdbc_startup_latest_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATEST_OFFSET startup against a live database (StartupMode.java
    scope): no snapshot — the source captures the current log offset at
    startup and the envelope holds ONLY changes written after it. The
    mutations are value-idempotent (absolute SET, re-deleting deleted rows
    emits nothing), so repeated runs against the shared Derby db yield the
    same materialized state."""
    import hashlib
    import os
    import shutil

    from .sinks.materialize import materialize_changelog
    from .sources.jdbc_live import (
        JdbcEndpoint,
        JdbcLiveSource,
        JdbcLiveSourceConfig,
        derby_url,
        install_capture,
    )
    from .sources.jdbc_snapshot import StartupMode

    pin_session(spark)
    cols = ["s_suppkey", "s_name", "s_acctbal"]
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_jdbclatest/{key}"
    db, marker = f"{root}/db", f"{root}/_READY"
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        ep0 = JdbcEndpoint(spark, derby_url(db))
        ep0.execute(
            "CREATE TABLE SUPPLIER (S_SUPPKEY BIGINT NOT NULL PRIMARY KEY, "
            "S_NAME VARCHAR(64), S_ACCTBAL DOUBLE)"
        )
        install_capture(ep0, "supplier", cols)
        snap = ParquetTableSource(spark, sf_dir).snapshot("supplier")
        rows = [tuple(r) for r in snap.select(*cols).collect()]
        ep0.insert_rows("SUPPLIER", [c.upper() for c in cols], rows)
        with open(marker, "w") as f:
            f.write("ok")
    cfg = JdbcLiveSourceConfig(
        url=derby_url(db, create=False),
        table="supplier",
        key_column="s_suppkey",
        table_id="app.supplier",
        startup_mode=StartupMode.LATEST_OFFSET,
    )
    src = JdbcLiveSource(spark, cfg)
    # read() captures the current log offset (the startup point); the scan
    # itself is lazy, so writes landing before materialization are exactly
    # the post-startup tail — and the ONLY events the envelope may contain
    env = src.read()
    src.ep.execute_update(
        "UPDATE SUPPLIER SET S_ACCTBAL = 999.5 WHERE MOD(S_SUPPKEY, 5) = 2"
    )
    src.ep.execute_update("DELETE FROM SUPPLIER WHERE MOD(S_SUPPKEY, 7) = 3")
    state = materialize_changelog(env, ["s_suppkey"]).select(*cols)
    return _pin_state(spark, state, "jdbc_latest")


# ---------------------------------------------------------------------------
# live CDC as a checkpointed Structured Streaming job (streaming/live_bridge)
# ---------------------------------------------------------------------------

# value-idempotent live mutations applied per invocation (the shared DB is
# cached across runs, so every write must converge to the same final state)
_BRIDGE_MUT_B = [
    "UPDATE CUSTOMER SET C_ACCTBAL = 500.0 WHERE MOD(C_CUSTKEY, 13) = 6",
    "DELETE FROM CUSTOMER WHERE MOD(C_CUSTKEY, 23) = 11",
]
_BRIDGE_MUT_C = [
    "UPDATE CUSTOMER SET C_MKTSEGMENT = 'STREAMED' WHERE MOD(C_CUSTKEY, 19) = 8",
]

_BRIDGE_ORACLE = """
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 13 = 6 THEN 500.0
            WHEN c_custkey % 10 = 3 THEN c_acctbal + 100
            ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 19 = 8 THEN 'STREAMED'
            WHEN c_custkey % 7 = 2 THEN 'MOVED'
            ELSE c_mktsegment END AS c_mktsegment
FROM customer
WHERE c_custkey % 20 <> 7 AND c_custkey % 23 <> 11
"""


def _jdbc_bridge_db(spark: SparkSession, sf_dir: str) -> str:
    """A dedicated live Derby DB for the streaming-bridge query (NOT shared
    with jdbc_snapshot_stream_handoff: this query keeps mutating the
    database, which would invalidate the other query's oracle)."""
    import hashlib
    import os
    import shutil

    from .sources.jdbc_live import JdbcEndpoint, derby_url, install_capture

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_jdbcbridge/{key}"
    db, marker = f"{root}/db", f"{root}/_READY"
    if os.path.exists(marker):
        return db
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    ep = JdbcEndpoint(spark, derby_url(db))
    ep.execute(
        "CREATE TABLE CUSTOMER ("
        "C_CUSTKEY BIGINT NOT NULL PRIMARY KEY, C_NAME VARCHAR(200), "
        "C_NATIONKEY INTEGER, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(64))"
    )
    install_capture(ep, "customer", _CUSTOMER_COLS)
    snap = ParquetTableSource(spark, sf_dir).snapshot("customer")
    rows = [tuple(r) for r in snap.select(*_CUSTOMER_COLS).collect()]
    ep.insert_rows("CUSTOMER", [c.upper() for c in _CUSTOMER_COLS], rows)
    for sql in _JDBC_MUTATIONS:
        ep.execute_update(sql)
    with open(marker, "w") as f:
        f.write("ok")
    return db


@register("live_streaming_cdc_tail", _BRIDGE_ORACLE)
def live_streaming_cdc_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous CDC as a REAL Structured Streaming job (the reference's
    composed topology, FlinkPipelineComposer.java:120-261): hybrid LW/HW
    snapshot + trigger-capture tail exported executor-side to the wire
    stream, consumed by a checkpointed readStream->foreachBatch query into
    the LSM store. Two incremental ticks land live mutations, with a full
    bridge RESTART (fresh runner over the same checkpoint) between them —
    restart-resume is part of the verified surface, not just a unit test."""
    import tempfile

    from .sources.jdbc_live import JdbcEndpoint, JdbcLiveSourceConfig, derby_url
    from .streaming.live_bridge import JdbcLiveStreamBridge

    pin_session(spark)
    db = _jdbc_bridge_db(spark, sf_dir)
    url = derby_url(db, create=False)
    cfg = JdbcLiveSourceConfig(
        url=url,
        table="customer",
        key_column="c_custkey",
        table_id="app.customer",
    )
    ep = JdbcEndpoint(spark, url)
    work = tempfile.mkdtemp(prefix="cdc_bridge_", dir="/tmp")
    # replicating one snapshot-sized table: scope the runner's shuffle
    # width to the state size (r13 profile: drains 2.1-4.2s -> 0.8-1.9s,
    # LSM read 1.4 -> 0.5s; chunk/pool sized for one 2-wave snapshot)
    bridge = JdbcLiveStreamBridge(spark, cfg, work, runner_shuffle_partitions=8)
    _, _, cnt = bridge.source._probe()
    bridge.cfg.chunk_size = max(cnt // 6, 16)
    bridge.cfg.snapshot_pool = 6
    bridge.bootstrap()
    for sql in _BRIDGE_MUT_B:
        ep.execute_update(sql)
    bridge.run_once()  # one availableNow pass drains snapshot + B slices
    # restart: fresh exporter + fresh runner over the same work dir
    bridge2 = JdbcLiveStreamBridge(spark, cfg, work, runner_shuffle_partitions=8)
    bridge2.bootstrap()
    for sql in _BRIDGE_MUT_C:
        ep.execute_update(sql)
    bridge2.run_once()
    return bridge2.current_state().select(*_CUSTOMER_COLS)


# ---------------------------------------------------------------------------
# PostgreSQL logical decoding source (sources/postgres_cdc.py)
# ---------------------------------------------------------------------------

_PG_MUTATIONS = [
    "UPDATE customer SET c_acctbal = c_acctbal + 25 WHERE c_custkey % 9 = 4",
    "UPDATE customer SET c_mktsegment = 'PGSEG' WHERE c_custkey % 11 = 5",
    "DELETE FROM customer WHERE c_custkey % 17 = 3",
]

_PG_ORACLE = """
SELECT c_custkey, c_name, c_nationkey,
       CASE WHEN c_custkey % 9 = 4 THEN c_acctbal + 25 ELSE c_acctbal END AS c_acctbal,
       CASE WHEN c_custkey % 11 = 5 THEN 'PGSEG' ELSE c_mktsegment END AS c_mktsegment
FROM customer
WHERE c_custkey % 17 <> 3
"""


def _pg_customer_server(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) a live PostgreSQL server seeded from the
    customer parquet with a logical replication slot created *before* the
    deterministic mutations, so the slot holds their decoded changelog."""
    import hashlib
    import os
    import shutil

    from .sources.postgres_cdc import PostgresServer

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_pg/{key}-v2"  # v2: + pgoutput slot/publication
    marker = f"{root}/_READY"
    srv = PostgresServer(f"{root}/srv")
    if os.path.exists(marker):
        srv.start()  # fresh process after a restart: bring it back up
        return srv
    try:
        srv.stop()  # half-built leftovers may still hold the data dir
    except Exception:
        pass
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    srv.start()
    srv.sql(
        "CREATE TABLE customer (c_custkey bigint PRIMARY KEY, c_name text, "
        "c_nationkey integer, c_acctbal double precision, c_mktsegment text)"
    )
    srv.sql("ALTER TABLE customer REPLICA IDENTITY FULL")
    # bulk load through a server-side COPY of a DuckDB-exported CSV
    import duckdb

    from .sources.postgres_cdc import _open_for_server

    load_dir = f"{root}/load"
    _open_for_server(load_dir)
    duckdb.sql(
        f"COPY (SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM read_parquet('{sf_dir}/customer.parquet') ORDER BY c_custkey) "
        f"TO '{load_dir}/customer.csv' (FORMAT csv, HEADER false)"
    )
    srv.sql(f"COPY customer FROM '{load_dir}/customer.csv' WITH (FORMAT csv)")
    srv.sql("SELECT pg_create_logical_replication_slot('cdc_slot', 'test_decoding')")
    # the production-protocol twin: a pgoutput slot + publication created
    # before the mutations, so both protocols decode the same changelog
    srv.sql("CREATE PUBLICATION cdc_pub FOR TABLE customer")
    srv.sql("SELECT pg_create_logical_replication_slot('cdc_slot_pgout', 'pgoutput')")
    for sql in _PG_MUTATIONS:
        srv.sql(sql)
    with open(marker, "w") as f:
        f.write("ok")
    return srv


@register("pg_logical_decoding_pipeline", _PG_ORACLE)
def pg_logical_decoding_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PostgreSQL pipeline source, end-to-end on a REAL
    postgres server: information_schema discovery, chunked server-side
    COPY snapshot read executor-side, and the mutation changelog decoded
    from an actual logical replication slot (test_decoding — the same
    server mechanism Debezium consumes), replayed idempotently over the
    snapshot to the exact final state the oracle computes from parquet."""
    import tempfile

    from .sinks.materialize import materialize_changelog
    from .sources.envelope import wrap_as_inserts
    from .sources.postgres_cdc import PostgresCdcConfig, PostgresCdcSource

    pin_session(spark)
    srv = _pg_customer_server(spark, sf_dir)
    src = PostgresCdcSource(
        spark,
        srv,
        PostgresCdcConfig(table="customer", key_column="c_custkey", chunk_size=2048),
    )
    snap_dir = tempfile.mkdtemp(prefix="pgsnap_", dir="/tmp")
    snap = src.snapshot(snap_dir)
    env = src.read_changes(peek=True)  # repeatable across invocations
    base = wrap_as_inserts(snap, "public.customer")
    env = env.withColumn("__seq", F.col("__seq") + (1 << 40))
    final = materialize_changelog(base.unionByName(env), ["c_custkey"])
    return final.select(*_CUSTOMER_COLS)


@register("pg_pgoutput_pipeline", _PG_ORACLE)
def pg_pgoutput_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same live-server pipeline decoded from the PRODUCTION pgoutput
    BINARY protocol (pgoutput_wire.py) instead of test_decoding text:
    publication-scoped slot, hex-spooled binary messages, Relation-map
    control pass, executor-side row decode — landing on the identical
    oracle state as the text-protocol row."""
    import tempfile

    from .sinks.materialize import materialize_changelog
    from .sources.envelope import wrap_as_inserts
    from .sources.postgres_cdc import PostgresCdcConfig, PostgresCdcSource

    pin_session(spark)
    srv = _pg_customer_server(spark, sf_dir)
    src = PostgresCdcSource(
        spark,
        srv,
        PostgresCdcConfig(
            table="customer", key_column="c_custkey",
            slot="cdc_slot_pgout", chunk_size=2048,
        ),
    )
    snap_dir = tempfile.mkdtemp(prefix="pgsnap_", dir="/tmp")
    snap = src.snapshot(snap_dir)
    env = src.read_changes_pgoutput(publication="cdc_pub", peek=True)
    base = wrap_as_inserts(snap, "public.customer")
    env = env.withColumn("__seq", F.col("__seq") + (1 << 40))
    final = materialize_changelog(base.unionByName(env), ["c_custkey"])
    return final.select(*_CUSTOMER_COLS)


# ---------------------------------------------------------------------------
# dialect change decoders (mysql binlog / sqlserver CT table / oracle
# LogMiner-shape), each replayed over deterministic fixtures derived from
# the customer parquet with closed-form oracles
# ---------------------------------------------------------------------------


def _mysql_binlog_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Canned binlog for the customer table (cached per sf_dir): CREATE,
    TABLE_MAP, chunked WRITE_ROWS for the snapshot, then UPDATE_ROWS for
    c_custkey % 10 == 3 (+100 acctbal) and DELETE_ROWS for % 20 == 7.
    Fixture *ingest* is driver-side by necessity (it writes the binlog
    file the test replays); the engine's decode of it is executor-side."""
    import hashlib
    import json as _json
    import os

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/flink_cdc_spark_binlog/{key}/binlog.jsonl"
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
        .collect()
    )
    cols = [
        {"name": "c_custkey", "type": "BIGINT"},
        {"name": "c_name", "type": "VARCHAR(200)"},
        {"name": "c_acctbal", "type": "DOUBLE"},
    ]
    events = [
        {"type": "QUERY", "pos": 10, "database": "app",
         "sql": "CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY, "
                "c_name VARCHAR(200), c_acctbal DOUBLE)"},
        {"type": "TABLE_MAP", "pos": 20, "table_id": 70, "database": "app",
         "table": "customer", "columns": cols},
    ]
    pos = 100
    for i in range(0, len(rows), 500):
        chunk = [[r.c_custkey, r.c_name, r.c_acctbal] for r in rows[i : i + 500]]
        events.append({"type": "EXT_WRITE_ROWS", "pos": pos, "table_id": 70,
                       "rows": chunk})
        pos += 1
    upd_pos = 10_000_000
    upd = [
        {"before": [r.c_custkey, r.c_name, r.c_acctbal],
         "after": [r.c_custkey, r.c_name, r.c_acctbal + 100]}
        for r in rows
        if r.c_custkey % 10 == 3
    ]
    events.append({"type": "EXT_UPDATE_ROWS", "pos": upd_pos, "table_id": 70,
                   "rows": upd})
    dels = [
        [r.c_custkey, r.c_name, r.c_acctbal]
        for r in rows
        if r.c_custkey % 20 == 7
    ]
    events.append({"type": "EXT_DELETE_ROWS", "pos": upd_pos + 1, "table_id": 70,
                   "rows": dels})
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for ev in events:
            f.write(_json.dumps(ev) + "\n")
    os.replace(tmp, path)
    return path


@register(
    "mysql_binlog_replay",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE c_custkey % 20 <> 7
    """,
)
def mysql_binlog_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL binlog replay end-to-end (MySqlEventDeserializer.java:57-106
    scope): canned binlog events -> TABLE_MAP-resolved executor-side row
    decode -> envelope -> materialized state."""
    from .sinks.materialize import materialize_changelog
    from .sources.mysql_source import MySqlBinlogDecoder

    pin_session(spark)
    path = _mysql_binlog_fixture(spark, sf_dir)
    dec = MySqlBinlogDecoder(spark)
    _, _, schemas = dec.scan_control(path)
    env = dec.read_envelope(
        path, "app.customer", schemas["app.customer"].to_spark_struct()
    )
    final = materialize_changelog(env, ["c_custkey"])
    return final.select("c_custkey", "c_name", "c_acctbal")


@register(
    "mysql_binlog_wire_replay",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE (c_custkey % 20) <> 7
    """,
)
def mysql_binlog_wire_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL binlog replay over the REAL v4 BINARY wire format
    (mysql_binlog_wire.py): two rotated segments — snapshot WRITE_ROWS in
    segment 1, UPDATE/DELETE_ROWS in segment 2 — parsed from raw bytes
    executor-side (one task per segment), TABLE_MAP column names resolved
    from the in-stream CREATE TABLE DDL (the binlog carries only type
    codes), materialized to the same closed-form state as the JSONL
    replay."""
    import hashlib
    import os

    from .sinks.materialize import materialize_changelog
    from .sources.mysql_binlog_wire import BinlogWriter
    from .sources.mysql_source import MySqlBinaryBinlogDecoder

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_binlogwire/{key}"
    glob_path = f"{root}/bin.*"
    if not os.path.exists(f"{root}/_READY"):
        os.makedirs(root, exist_ok=True)
        rows = (
            ParquetTableSource(spark, sf_dir)
            .snapshot("customer")
            .select("c_custkey", "c_name", "c_acctbal")
            .orderBy("c_custkey")
            .collect()
        )
        types = ["BIGINT", "VARCHAR(200)", "DOUBLE"]
        w1 = BinlogWriter()
        w1.query(
            "app",
            "CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY, "
            "c_name VARCHAR(200), c_acctbal DOUBLE)",
        )
        w1.table_map(70, "app", "customer", types)
        for i in range(0, len(rows), 500):
            w1.write_rows(
                70, types,
                [[r.c_custkey, r.c_name, r.c_acctbal] for r in rows[i:i + 500]],
            )
        w1.xid()
        with open(f"{root}/bin.000001", "wb") as f:
            f.write(w1.to_bytes())
        w2 = BinlogWriter()
        w2.table_map(70, "app", "customer", types)
        w2.update_rows(
            70, types,
            [([r.c_custkey, r.c_name, r.c_acctbal],
              [r.c_custkey, r.c_name, r.c_acctbal + 100])
             for r in rows if r.c_custkey % 10 == 3],
        )
        w2.delete_rows(
            70, types,
            [[r.c_custkey, r.c_name,
              r.c_acctbal + (100 if r.c_custkey % 10 == 3 else 0)]
             for r in rows if r.c_custkey % 20 == 7],
        )
        w2.xid()
        with open(f"{root}/bin.000002", "wb") as f:
            f.write(w2.to_bytes())
        with open(f"{root}/_READY", "w") as f:
            f.write("ok")
    dec = MySqlBinaryBinlogDecoder(spark)
    _, _, schemas = dec.scan_control(glob_path)
    env = dec.read_envelope(
        glob_path, "app.customer", schemas["app.customer"].to_spark_struct()
    )
    final = materialize_changelog(env, ["c_custkey"])
    return final.select("c_custkey", "c_name", "c_acctbal")


@register(
    "mysql_gtid_startup_replay",
    """
    SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal
    FROM customer
    WHERE (c_custkey % 10) = 3 AND (c_custkey % 20) <> 7
    """,
)
def mysql_gtid_startup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan.startup.specific-offset.gtid-set over REAL binlog wire bytes
    (MySqlDataSourceOptions.java:147): three GTID-framed transactions —
    snapshot inserts, +100 updates on key%10=3, deletes on key%20=7. The
    start set covers the INSERT transaction, so only the update/delete
    transactions stream; the materialized state is exactly the upserted
    surviving keys."""
    import hashlib
    import os

    from .sinks.materialize import materialize_changelog
    from .sources.mysql_binlog_wire import BinlogWriter
    from .sources.mysql_source import MySqlBinaryBinlogDecoder

    pin_session(spark)
    sid = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_binloggtid/{key}"
    glob_path = f"{root}/bin.*"
    if not os.path.exists(f"{root}/_READY"):
        os.makedirs(root, exist_ok=True)
        rows = (
            ParquetTableSource(spark, sf_dir)
            .snapshot("customer")
            .select("c_custkey", "c_name", "c_acctbal")
            .orderBy("c_custkey")
            .collect()
        )
        types = ["BIGINT", "VARCHAR(200)", "DOUBLE"]
        w = BinlogWriter()
        w.query(
            "app",
            "CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY, "
            "c_name VARCHAR(200), c_acctbal DOUBLE)",
        )
        w.gtid(sid, 1)  # covered by the start set -> whole txn skipped
        w.table_map(70, "app", "customer", types)
        for i in range(0, len(rows), 500):
            w.write_rows(
                70, types,
                [[r.c_custkey, r.c_name, r.c_acctbal] for r in rows[i:i + 500]],
            )
        w.xid()
        w.gtid(sid, 2)
        w.table_map(70, "app", "customer", types)
        w.update_rows(
            70, types,
            [([r.c_custkey, r.c_name, r.c_acctbal],
              [r.c_custkey, r.c_name, r.c_acctbal + 100])
             for r in rows if r.c_custkey % 10 == 3],
        )
        w.xid()
        w.gtid(sid, 3)
        w.table_map(70, "app", "customer", types)
        w.delete_rows(
            70, types,
            [[r.c_custkey, r.c_name,
              r.c_acctbal + (100 if r.c_custkey % 10 == 3 else 0)]
             for r in rows if r.c_custkey % 20 == 7],
        )
        w.xid()
        with open(f"{root}/bin.000001", "wb") as f:
            f.write(w.to_bytes())
        with open(f"{root}/_READY", "w") as f:
            f.write("ok")
    dec = MySqlBinaryBinlogDecoder(spark)
    _, _, schemas = dec.scan_control(glob_path)
    env = dec.read_envelope(
        glob_path, "app.customer", schemas["app.customer"].to_spark_struct(),
        start_gtid_set=f"MySQL56/{sid}:1",
    )
    final = materialize_changelog(env, ["c_custkey"])
    return final.select("c_custkey", "c_name", "c_acctbal")


@register(
    "mysql_streaming_binlog_evolution",
    """
    SELECT c_custkey, c_name,
           CASE WHEN (c_custkey % 11) = 5 THEN 1 END AS vip
    FROM customer
    WHERE (c_custkey % 23) <> 9
    """,
)
def mysql_streaming_binlog_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binlog segments through the checkpointed STREAMING runner with a
    mid-stream ALTER (BinlogStreamBridge): segment 1 creates + inserts,
    segment 2 adds a column in-band and writes updates/deletes under the
    widened schema — pre-ALTER rows null-pad, the evolved state is
    oracle-compared."""
    import hashlib
    import os
    import shutil
    import tempfile

    from .streaming.binlog_bridge import BinlogStreamBridge
    from .sources.mysql_binlog_wire import BinlogWriter

    pin_session(spark)
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = f"/tmp/flink_cdc_spark_binlogstream/{key}"
    if not os.path.exists(f"{root}/_READY"):
        os.makedirs(root, exist_ok=True)
        rows = (
            ParquetTableSource(spark, sf_dir)
            .snapshot("customer")
            .select("c_custkey", "c_name")
            .orderBy("c_custkey")
            .collect()
        )
        t1 = ["BIGINT", "VARCHAR(200)"]
        w1 = BinlogWriter()
        w1.query(
            "app",
            "CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY, "
            "c_name VARCHAR(200))",
        )
        w1.table_map(70, "app", "customer", t1)
        for i in range(0, len(rows), 500):
            w1.write_rows(
                70, t1, [[r.c_custkey, r.c_name] for r in rows[i:i + 500]]
            )
        w1.xid()
        w1.rotate("bin.000002")
        with open(f"{root}/bin.000001", "wb") as f:
            f.write(w1.to_bytes())
        t2 = t1 + ["INT"]
        w2 = BinlogWriter()
        w2.query("app", "ALTER TABLE customer ADD COLUMN vip INT")
        w2.table_map(71, "app", "customer", t2)
        w2.update_rows(
            71, t2,
            [([r.c_custkey, r.c_name, None], [r.c_custkey, r.c_name, 1])
             for r in rows if r.c_custkey % 11 == 5],
        )
        w2.delete_rows(
            71, t2,
            [[r.c_custkey, r.c_name, 1 if r.c_custkey % 11 == 5 else None]
             for r in rows if r.c_custkey % 23 == 9],
        )
        w2.xid()
        with open(f"{root}/bin.000002", "wb") as f:
            f.write(w2.to_bytes())
        with open(f"{root}/_READY", "w") as f:
            f.write("ok")
    work = tempfile.mkdtemp(prefix="binlogstream_work_")
    try:
        bridge = BinlogStreamBridge(spark, f"{root}/bin.*", work)
        bridge.export_all()
        bridge.run()
        out = bridge.current_state("app.customer").select(
            "c_custkey", "c_name", "vip"
        )
        return _pin_state(spark, out, "binlog_stream")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "sqlserver_cdc_table_decode",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE c_custkey % 20 <> 7
    """,
)
def sqlserver_cdc_table_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL Server change-capture decode (SqlServerEventDeserializer scope):
    a cdc.*_CT slice SYNTHESIZED with pure DataFrame expressions from the
    customer parquet (insert ops, 3/4 update pairs, delete ops — nothing
    collected), decoded by decode_cdc_table and materialized."""
    from .sinks.materialize import materialize_changelog
    from .sources.sqlserver_source import decode_cdc_table

    pin_session(spark)
    base = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("customer")
        .select("c_custkey", "c_name", "c_acctbal")
    )

    def ct(band, op, acct):
        return base.select(
            F.format_string(band + "%019d", F.col("c_custkey")).alias("__$start_lsn"),
            F.lit("01").alias("__$seqval"),
            F.lit(op).alias("__$operation"),
            F.col("c_custkey"),
            F.col("c_name"),
            acct.alias("c_acctbal"),
        )

    bal = F.col("c_acctbal")
    upd = F.col("c_custkey") % 10 == 3
    dels = F.col("c_custkey") % 20 == 7
    slice_df = (
        ct("A", 2, bal)
        .unionByName(ct("B", 3, bal).where(upd))
        .unionByName(ct("B", 4, bal + 100).where(upd))
        .unionByName(ct("C", 1, bal).where(dels))
    )
    env = decode_cdc_table(slice_df, "dbo.customer")
    final = materialize_changelog(env, ["c_custkey"])
    return final.select("c_custkey", "c_name", "c_acctbal")


@register(
    "oracle_logminer_decode",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 9 = 4 THEN c_acctbal + 25 ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE c_custkey % 17 <> 3
    """,
)
def oracle_logminer_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle LogMiner-shape decode (OracleEventDeserializer scope): redo
    events ENCODED with pure to_json expressions from the customer parquet
    (create/update/delete ops with SCN ordering), decoded through the
    debezium-json codec and materialized."""
    from pyspark.sql import types as T

    from .sinks.materialize import materialize_changelog
    from .sources.oracle_source import decode_logminer_records

    pin_session(spark)
    base = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("customer")
        .select("c_custkey", "c_name", "c_acctbal")
    )
    img = lambda acct: F.struct(
        F.col("c_custkey"), F.col("c_name"), acct.alias("c_acctbal")
    )
    src = lambda scn: F.struct(
        F.lit("ORCL").alias("db"),
        F.lit("CUSTOMER").alias("table"),
        scn.cast("string").alias("scn"),
    )
    bal = F.col("c_acctbal")
    upd = F.col("c_custkey") % 9 == 4
    dels = F.col("c_custkey") % 17 == 3
    ins = base.select(
        F.to_json(
            F.struct(
                F.lit("c").alias("op"),
                F.lit(None).cast("struct<c_custkey:bigint,c_name:string,c_acctbal:double>").alias("before"),
                img(bal).alias("after"),
                src(F.col("c_custkey")).alias("source"),
            )
        ).alias("value")
    )
    updates = base.where(upd).select(
        F.to_json(
            F.struct(
                F.lit("u").alias("op"),
                img(bal).alias("before"),
                img(bal + 25).alias("after"),
                src(F.col("c_custkey") + F.lit(1_000_000_000)).alias("source"),
            )
        ).alias("value")
    )
    deletes = base.where(dels).select(
        F.to_json(
            F.struct(
                F.lit("d").alias("op"),
                img(bal).alias("before"),
                F.lit(None).cast("struct<c_custkey:bigint,c_name:string,c_acctbal:double>").alias("after"),
                src(F.col("c_custkey") + F.lit(2_000_000_000)).alias("source"),
            )
        ).alias("value")
    )
    records = ins.unionByName(updates).unionByName(deletes)
    payload = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    env = decode_logminer_records(records, payload)
    final = materialize_changelog(env, ["c_custkey"])
    return final.select("c_custkey", "c_name", "c_acctbal")


# ---------------------------------------------------------------------------
# JDBC warehouse sink: real DDL + real MERGE INTO (sinks/jdbc_sink.py)
# ---------------------------------------------------------------------------

_WH_SPEC = MutationSpec(
    key_column="c_custkey",
    update_mod=10,
    update_rem=3,
    update_exprs={"c_acctbal": "c_acctbal + 50"},
    delete_mod=20,
    delete_rem=7,
)


@register(
    "jdbc_warehouse_sink_roundtrip",
    _WH_SPEC.oracle_final_state_sql(
        "customer", ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    ),
)
def jdbc_warehouse_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse-sink path (DorisDataSink/StarRocksDataSink scope)
    executed against a live database: CREATE TABLE via the MetadataApplier,
    snapshot batch + mutation-tail batch landed through executor-side JDBC
    staging and two real ANSI MERGE INTO statements, then the final table
    read back through spark.read.jdbc. Every byte of state lives in the
    database; the oracle recomputes the same final state from parquet."""
    import shutil
    import tempfile

    from .core.events import CreateTableEvent
    from .sinks.jdbc_sink import JdbcWarehouseSink
    from .sources.envelope import ENVELOPE_SEQ
    from .sources.jdbc_live import derby_url

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    snap = src.snapshot("customer")
    schema = Schema.from_spark_struct(
        snap.schema, primary_keys=["c_custkey"]
    ).ensure_pk_non_null()
    tid = TableId.parse("wh.customer")
    work = tempfile.mkdtemp(prefix="cdc_wh_")
    try:
        sink = JdbcWarehouseSink(spark, derby_url(f"{work}/db"))
        sink.apply_schema_change(CreateTableEvent(tid, schema))
        full = src.changelog("customer", "wh.customer", mutations=_WH_SPEC)
        # batch 1: the snapshot inserts; batch 2: the mutation tail
        sink.write_batch(tid, full.where(F.col(ENVELOPE_SEQ) < (1 << 41)), schema)
        sink.write_batch(tid, full.where(F.col(ENVELOPE_SEQ) >= (1 << 41)), schema)
        result = sink.read_table(tid).select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# §2.1 PK-hash prepartition: per-key consistency survives the shuffle
# (RegularPrePartitionOperator.java:85-121 scope)
# ---------------------------------------------------------------------------


@register(
    "prepartition_pk_hash",
    """
    SELECT c_custkey,
           CASE WHEN (c_custkey % 10) = 3 THEN c_acctbal + 500 ELSE c_acctbal END AS c_acctbal,
           c_nationkey
    FROM customer
    WHERE (c_custkey % 20) <> 7
    """,
)
def prepartition_pk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-hash prepartition (RegularPrePartitionOperator analog): the
    changelog is explicitly repartitioned on the primary key into a small
    fixed channel count — all changes of one key land in one partition —
    and the materialized state must be identical to the unpartitioned
    oracle. The sink's per-key __seq merge makes the result invariant
    under AQE re-planning of this shuffle; this row pins that contract."""
    from .operators.partition import repartition_by_primary_key
    from .sinks.materialize import materialize_changelog

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(
        key_column="c_custkey", update_exprs={"c_acctbal": "c_acctbal + 500"}
    )
    env = src.changelog("customer", "default.customer", mut)
    env = repartition_by_primary_key(env, ["c_custkey"], num_partitions=8)
    state = materialize_changelog(env, ["c_custkey"])
    return state.select("c_custkey", "c_acctbal", "c_nationkey")


# ---------------------------------------------------------------------------
# §2.2 DDL statement parser: raw SQL DDL drives schema evolution
# (CustomMySqlAntlrDdlParser scope)
# ---------------------------------------------------------------------------


@register(
    "ddl_statement_pipeline",
    """
    SELECT n_nationkey, n_name, n_regionkey,
           CASE WHEN n_nationkey >= 15 THEN length(n_name) END AS name_len
    FROM nation
    """,
)
def ddl_statement_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL DDL (CREATE TABLE + ALTER TABLE ADD COLUMN) parsed by the
    DDL statement parser and driven through the event pipeline to a
    materialized table: rows arriving before the ALTER read back with the
    added column NULL, rows after it carry values."""
    from .core.events import DataChangeEvent
    from .pipeline.composer import EventPipelineComposer
    from .pipeline.definition import (
        PipelineConfig,
        PipelineDef,
        SinkDef,
        SourceDef,
    )
    from .sinks.materialize import materialize_changelog
    from .sources.ddl_parser import parse_ddl

    pin_session(spark)
    tid = TableId.parse("app.nation")
    create = parse_ddl(
        "CREATE TABLE app.nation ("
        " n_nationkey BIGINT NOT NULL PRIMARY KEY,"
        " n_name VARCHAR(25), n_regionkey BIGINT)"
    )
    alter = parse_ddl("ALTER TABLE app.nation ADD COLUMN name_len INT")
    rows = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )  # DDL is control-plane: nation is a 25-row dimension table
    events = [create]
    events += [
        DataChangeEvent.insert(tid, (r.n_nationkey, r.n_name, r.n_regionkey))
        for r in rows
        if r.n_nationkey < 15
    ]
    events.append(alter)
    events += [
        DataChangeEvent.insert(
            tid, (r.n_nationkey, r.n_name, r.n_regionkey, len(r.n_name))
        )
        for r in rows
        if r.n_nationkey >= 15
    ]
    pipeline = PipelineDef(
        source=SourceDef(type="values"),
        sink=SinkDef(type="values"),
        config=PipelineConfig(runtime_mode="BATCH", schema_change_behavior="EVOLVE"),
    )
    result = EventPipelineComposer(spark, pipeline).run(events)
    env = result.changelogs["app.nation"]
    state = materialize_changelog(env, ["n_nationkey"])
    return state.select("n_nationkey", "n_name", "n_regionkey", "name_len")


# ---------------------------------------------------------------------------
# §2.5 user-defined function surface: YAML-registered UDFs in projections
# (UserDefinedFunctionDescriptor / flink-cdc-pipeline-udf-examples scope)
# ---------------------------------------------------------------------------


@register(
    "udf_projection_pipeline",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal > 5000 THEN 'high' ELSE 'low' END AS tier,
           '$' || printf('%.2f', c_acctbal) AS money
    FROM customer
    """,
)
def udf_projection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YAML-registered UDFs (a lifecycle-hooked class and a plain function,
    functions/examples.py) called from a transform projection — the
    reference's user-defined-function pipeline block end to end."""
    yaml_text = """
source: {type: parquet}
sink: {type: values}
transform:
  - source-table: default.customer
    projection: c_custkey, TIER(c_acctbal) AS tier, FORMAT_MONEY(c_acctbal) AS money
pipeline:
  execution.runtime-mode: BATCH
  user-defined-function:
    - {name: tier, classpath: "flink_cdc_spark.functions.examples:TierClassifier"}
    - {name: format_money, classpath: "flink_cdc_spark.functions.examples:format_money"}
"""
    return run_pipeline(
        spark, sf_dir, yaml_text,
        [("customer", "default.customer", ("c_custkey",), None)],
        "default.customer",
    )


# ---------------------------------------------------------------------------
# §2.2 Fluss / MaxCompute sink wire formats: oracle-gated roundtrips
# ---------------------------------------------------------------------------


@register(
    "fluss_log_roundtrip",
    """
    SELECT c_custkey, c_name,
           CASE WHEN (c_custkey % 10) = 3 THEN c_acctbal + 250 ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE (c_custkey % 20) <> 7
    """,
)
def fluss_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluss sink roundtrip (FlussEventSerializationSchema scope): envelope
    -> bucketed UPSERT/DELETE log records -> tablet-style apply -> state."""
    from .sinks.fluss_sink import decode_fluss, encode_fluss
    from .sinks.materialize import materialize_changelog

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(
        key_column="c_custkey", update_exprs={"c_acctbal": "c_acctbal + 250"}
    )
    env = src.changelog("customer", "default.customer", mut)
    payload = None
    for f in env.schema.fields:
        if f.name == "after":
            payload = f.dataType
    log = encode_fluss(env, ["c_custkey"], bucket_num=4)
    decoded = decode_fluss(log, payload, "default.customer")
    state = materialize_changelog(decoded, ["c_custkey"])
    return state.select("c_custkey", "c_name", "c_acctbal")


@register(
    "maxcompute_tunnel_roundtrip",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN (o_orderkey % 10) = 3 THEN 'F' ELSE o_orderstatus END AS o_orderstatus
    FROM orders
    WHERE (o_orderkey % 20) <> 7
    """,
)
def maxcompute_tunnel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxCompute sink roundtrip (MaxComputeEventWriter scope): envelope ->
    per-(table, partition) tunnel-session upsert/delete records ->
    transactional-table apply -> state."""
    from .sinks.materialize import materialize_changelog
    from .sinks.maxcompute_sink import decode_maxcompute, encode_maxcompute

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(
        key_column="o_orderkey", update_exprs={"o_orderstatus": "'F'"}
    )
    env = src.changelog("orders", "default.orders", mut)
    payload = None
    for f in env.schema.fields:
        if f.name == "after":
            payload = f.dataType
    records = encode_maxcompute(
        env,
        ["o_orderkey"],
        partition_expr=F.coalesce(
            F.col("after.o_orderpriority"), F.col("before.o_orderpriority")
        ),
    )
    decoded = decode_maxcompute(records, payload, "default.orders")
    state = materialize_changelog(decoded, ["o_orderkey"])
    return state.select("o_orderkey", "o_custkey", "o_orderstatus")


@register(
    "iceberg_metadata_evolution",
    """
    SELECT 'head' AS at, p_partkey, p_name, p_brand AS brand,
           CASE WHEN (p_partkey % 10) = 3 THEN p_retailprice + 10
                ELSE p_retailprice END AS p_retailprice
    FROM part
    WHERE (p_partkey % 20) <> 7
    UNION ALL
    SELECT 'v1' AS at, p_partkey, p_name, p_brand AS brand, p_retailprice
    FROM part
    """,
)
def iceberg_metadata_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg metadata model (IcebergMetadataApplier scope) executed
    natively: snapshot-per-commit, equality deletes, field-id RENAME with
    zero data rewrites, and time travel. Commit 1 = the snapshot inserts,
    commit 2 = the mutation tail (updates become data + equality-delete
    entries); then p_brand renames to `brand` as a pure metadata version.
    The result unions the head read (current schema, mutated state) with
    the time-travel read at snapshot 1 (pre-mutation state under the old
    snapshot's column binding)."""
    import shutil
    import tempfile

    from .core.events import RenameColumnEvent
    from .sinks.iceberg_store import IcebergMetadataApplier, IcebergTableStore
    from .sources.envelope import OP_INSERT, payload_struct

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(
        key_column="p_partkey",
        update_exprs={"p_retailprice": "p_retailprice + 10"},
    )
    env = src.changelog("part", "default.part", mut)
    payload = payload_struct(env)
    root = tempfile.mkdtemp(prefix="iceberg_contract_")
    try:
        store = IcebergTableStore(spark, root)
        applier = IcebergMetadataApplier(store)
        store.create_table("default.part", payload, ["p_partkey"])
        s1 = store.commit(
            "default.part", env.where(F.col("__op") == OP_INSERT), payload
        )
        store.commit(
            "default.part", env.where(F.col("__op") != OP_INSERT), payload
        )
        applier.apply_schema_change(
            "default.part",
            RenameColumnEvent(
                TableId.parse("default.part"), (("p_brand", "brand"),)
            ),
        )
        cols = ["p_partkey", "p_name", "p_retailprice"]
        head = store.read("default.part").select(
            F.lit("head").alias("at"), *cols[:2], F.col("brand"), cols[2]
        )
        v1 = store.read("default.part", snapshot_id=s1).select(
            F.lit("v1").alias("at"), *cols[:2], F.col("p_brand").alias("brand"),
            cols[2],
        )
        out = head.unionByName(v1).select(
            "at", "p_partkey", "p_name", "brand", "p_retailprice"
        )
        return _pin_state(spark, out, "iceberg")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "hudi_upsert_roundtrip",
    """
    SELECT s_suppkey, s_name, s_nationkey,
           CASE WHEN (s_suppkey % 10) = 3 THEN s_acctbal * 2
                ELSE s_acctbal END AS s_acctbal
    FROM supplier
    WHERE (s_suppkey % 20) <> 7
    """,
)
def hudi_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi sink analog (RowDataUtils/BucketAssignOperator scope): the
    changelog upserts into a MERGE_ON_READ table — BucketIdentifier
    bucketing by record key, per-bucket log files, one timeline instant
    per commit, tombstone deletes — and a snapshot read merges back the
    exact final state."""
    import shutil
    import tempfile

    from .sinks.hudi_sink import (
        MERGE_ON_READ,
        HudiTableConfig,
        HudiTableStore,
    )
    from .sources.envelope import OP_INSERT, payload_struct

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(
        key_column="s_suppkey", update_exprs={"s_acctbal": "s_acctbal * 2"}
    )
    env = src.changelog("supplier", "default.supplier", mut)
    payload = payload_struct(env)
    root = tempfile.mkdtemp(prefix="hudi_contract_")
    try:
        store = HudiTableStore(spark, root)
        store.create_table(
            "default.supplier",
            payload,
            HudiTableConfig(["s_suppkey"], table_type=MERGE_ON_READ, num_buckets=4),
        )
        store.upsert(
            "default.supplier", env.where(F.col("__op") == OP_INSERT), payload
        )
        store.upsert(
            "default.supplier", env.where(F.col("__op") != OP_INSERT), payload
        )
        out = store.read("default.supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        )
        return _pin_state(spark, out, "hudi")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "mongodb_streaming_evolution",
    """
    SELECT doc_id,
           CASE WHEN (doc_id % 4) = 1 THEN n_chars + 1 ELSE n_chars END AS n_chars,
           CASE WHEN (doc_id % 4) = 1 THEN lang END AS lang
    FROM documents
    WHERE (doc_id % 9) <> 3
    """,
)
def mongodb_streaming_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless-source streaming evolution (the MongoDB bridge): a
    change stream whose LATER documents introduce a new field replays
    through the checkpointed runner — per-slice schema inference derives
    a real in-band ADD COLUMN (get_schema_difference), early rows
    null-pad, post-evolution upserts land typed. Materialized state
    oracle-compared."""
    import shutil
    import tempfile

    from .streaming.mongo_bridge import MongoChangeStreamBridge

    pin_session(spark)
    docs = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("documents")
        .select("doc_id", "n_chars", "lang")
    )
    key = F.col("doc_id")
    oid = F.format_string("%024x", key)
    token = lambda t: F.format_string("82%08x%08x", F.lit(t), key)

    def doc(t, op, full):
        head = F.format_string(
            '{"_id": {"_data": "%s"}, "operationType": "%s", '
            '"ns": {"db": "app", "coll": "docs"}, '
            '"documentKey": {"_id": {"$oid": "%s"}}',
            token(t), F.lit(op), oid,
        )
        if full is None:
            return F.concat(head, F.lit("}"))
        return F.concat(head, F.lit(', "fullDocument": '), full, F.lit("}"))

    base_img = F.format_string(
        '{"_id": {"$oid": "%s"}, "doc_id": {"$numberLong": "%d"}, '
        '"n_chars": {"$numberLong": "%d"}}',
        oid, key, F.col("n_chars"),
    )
    upd_img = F.format_string(
        '{"_id": {"$oid": "%s"}, "doc_id": {"$numberLong": "%d"}, '
        '"n_chars": {"$numberLong": "%d"}, "lang": "%s"}',
        oid, key, F.col("n_chars") + 1, F.col("lang"),
    )
    ins = docs.select(doc(1000, "insert", base_img).alias("value"))
    upd = docs.where(key % 4 == 1).select(
        doc(2000, "update", upd_img).alias("value")
    )
    dels = docs.where(key % 9 == 3).select(doc(3000, "delete", None).alias("value"))
    stream = ins.unionByName(upd).unionByName(dels)

    root = tempfile.mkdtemp(prefix="mongo_stream_contract_")
    try:
        src = f"{root}/stream"
        stream.coalesce(1).write.mode("overwrite").text(src)
        bridge = MongoChangeStreamBridge(
            spark, src, f"{root}/work", "app", "docs", slices=3
        )
        bridge.export_all()
        bridge.run()
        out = bridge.current_state().select("doc_id", "n_chars", "lang")
        return _pin_state(spark, out, "mongo_stream")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "db2_asn_cd_decode",
    """
    SELECT p_partkey, p_name,
           CASE WHEN (p_partkey % 8) = 5 THEN p_retailprice + 10.0
                ELSE p_retailprice END AS p_retailprice
    FROM part
    WHERE (p_partkey % 15) <> 4
    """,
)
def db2_asn_cd_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Db2 ASN change-data decode (Db2Connection.GET_ALL_CHANGES_FOR_TABLE
    scope): an ASNCDC.*_CD slice SYNTHESIZED with pure DataFrame
    expressions from the part parquet — inserts, updates stored as Db2's
    D-then-I pairs inside one IBMSNAP_COMMITSEQ, lone deletes — decoded by
    decode_cd_table's LEAD/LAG rewrite and materialized."""
    from .sinks.materialize import materialize_changelog
    from .sources.db2_source import decode_cd_table

    pin_session(spark)
    base = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("part")
        .select("p_partkey", "p_name", "p_retailprice")
    )
    key = F.col("p_partkey")

    def cd(band, intent, op, price):
        return base.select(
            F.format_string(band + "%019d", key).alias("IBMSNAP_COMMITSEQ"),
            F.lit(intent).alias("IBMSNAP_INTENTSEQ"),
            F.lit(op).alias("IBMSNAP_OPERATION"),
            key,
            F.col("p_name"),
            price.alias("p_retailprice"),
        )

    price = F.col("p_retailprice")
    upd = key % 8 == 5
    dels = key % 15 == 4
    slice_df = (
        cd("A", "01", "I", price)
        # Db2 stores an update as D(old) then I(new) in one commit
        .unionByName(cd("B", "01", "D", price).where(upd))
        .unionByName(cd("B", "02", "I", price + 10.0).where(upd))
        .unionByName(cd("C", "01", "D", price + F.when(upd, 10.0).otherwise(0.0)).where(dels))
    )
    env = decode_cd_table(slice_df, "DB2INST1.PART")
    final = materialize_changelog(env, ["p_partkey"])
    return final.select("p_partkey", "p_name", "p_retailprice")


@register(
    "kafka_producer_record_route",
    """
    SELECT 'sup_topic' AS topic, s_suppkey AS rec_key, s_name AS rec_name,
           CASE WHEN (s_suppkey % 6) = 1 THEN s_acctbal + 12.5
                ELSE s_acctbal END AS rec_val
    FROM supplier
    WHERE (s_suppkey % 14) <> 9
    UNION ALL
    SELECT 'misc_topic', n_nationkey, n_name, CAST(n_regionkey AS DOUBLE)
    FROM nation
    """,
)
def kafka_producer_record_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka producer-record roundtrip
    (PipelineKafkaRecordSerializationSchema scope): two tables' changelogs
    assemble into records with selector-based topic routing
    (supplier -> sup_topic by exact rule, nation -> misc_topic by
    wildcard), hash-by-key partitioning, per-PK JSON keys and the
    debezium include-schema wrapping — then the consumer side strips the
    schema block, decodes debezium-json per topic and materializes the
    exact final states."""
    from pyspark.sql import types as T

    from .sinks.kafka_sink import (
        KafkaSinkConfig,
        debezium_connect_schema,
        infer_topic,
        kafka_producer_records,
        strip_connect_schema,
    )
    from .sinks.materialize import materialize_changelog
    from .sources.kafka_json import decode_debezium_json
    from .core.schema import new_schema

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    cfg = KafkaSinkConfig.from_dict(
        {
            "partition.strategy": "hash-by-key",
            "sink.tableId-to-topic.mapping":
                "app.supplier:sup_topic;app.\\.*:misc_topic",
            "debezium-json.include-schema.enabled": "true",
            "sink.add-tableId-to-header-enabled": "true",
        }
    )

    sup_env = src.changelog(
        "supplier", "app.supplier",
        MutationSpec(key_column="s_suppkey",
                     update_exprs={"s_acctbal": "s_acctbal + 12.5"},
                     update_mod=6, update_rem=1, delete_mod=14, delete_rem=9),
    )
    sup_schema = (
        new_schema()
        .physical_column("s_suppkey", "BIGINT NOT NULL")
        .physical_column("s_name", "STRING")
        .physical_column("s_nationkey", "BIGINT")
        .physical_column("s_acctbal", "DOUBLE")
        .primary_key("s_suppkey")
        .build()
    )
    nat_env = src.changelog("nation", "app.nation", None)
    nat_schema = (
        new_schema()
        .physical_column("n_nationkey", "BIGINT NOT NULL")
        .physical_column("n_name", "STRING")
        .physical_column("n_regionkey", "BIGINT")
        .primary_key("n_nationkey")
        .build()
    )

    def roundtrip(env, table_id, schema, pk, payload):
        recs = kafka_producer_records(
            env, cfg, table_id, [pk],
            connect_schema_json=debezium_connect_schema(schema),
        )
        topic = infer_topic(cfg, table_id)  # control-plane, no action
        consumed = strip_connect_schema(recs)
        decoded = decode_debezium_json(consumed, payload)
        final = materialize_changelog(decoded, [pk])
        return final, topic

    sup_payload = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.LongType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    nat_payload = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    sup_final, sup_topic = roundtrip(
        sup_env, "app.supplier", sup_schema, "s_suppkey", sup_payload
    )
    nat_final, nat_topic = roundtrip(
        nat_env, "app.nation", nat_schema, "n_nationkey", nat_payload
    )
    out = sup_final.select(
        F.lit(sup_topic).alias("topic"),
        F.col("s_suppkey").alias("rec_key"),
        F.col("s_name").alias("rec_name"),
        F.col("s_acctbal").alias("rec_val"),
    ).unionByName(
        nat_final.select(
            F.lit(nat_topic).alias("topic"),
            F.col("n_nationkey").alias("rec_key"),
            F.col("n_name").alias("rec_name"),
            F.col("n_regionkey").cast("double").alias("rec_val"),
        )
    )
    return out


@register(
    "tidb_kv_event_decode",
    """
    SELECT c_custkey, c_name,
           CASE WHEN (c_custkey % 11) = 6 THEN c_acctbal + 50.0
                ELSE c_acctbal END AS c_acctbal
    FROM customer
    WHERE (c_custkey % 19) <> 8
    """,
)
def tidb_kv_event_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TiDB KV change-event decode
    (RowDataTiKVChangeEventDeserializationSchema.deserialize scope): cdcpb
    Row events with REAL wire bytes — memcomparable record keys and
    row-format-v2 values (tikv_wire) — ENCODED executor-side with one
    mapInPandas pass over the customer parquet, then decoded back by
    decode_cdc_events and materialized. Inserts are PUTs with empty
    old_value, updates PUTs carrying the old image, deletes carry only
    the old image — the connector's exact op semantics."""
    from pyspark.sql import types as T

    from .session import ensure_package_on_executors
    from .sinks.materialize import materialize_changelog
    from .sources.tidb_source import decode_cdc_events

    pin_session(spark)
    ensure_package_on_executors(spark)
    base = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("customer")
        .select("c_custkey", "c_name", "c_acctbal")
    )
    TID = 77
    info = {"c_custkey": (1, "long"), "c_name": (2, "string"),
            "c_acctbal": (3, "double")}

    def encode(batches):
        import pandas as pd

        from flink_cdc_spark.sources.tikv_wire import (
            encode_row_key,
            encode_row_v2,
        )

        def rowv2(key, name, bal):
            return bytearray(
                encode_row_v2({1: int(key), 2: str(name), 3: float(bal)})
            )

        for pdf in batches:
            out = []
            for k, name, bal in zip(
                pdf["c_custkey"], pdf["c_name"], pdf["c_acctbal"]
            ):
                k = int(k)
                key = bytearray(encode_row_key(TID, k))
                img = rowv2(k, name, bal)
                out.append(((1 << 40) | k, "PUT", key, img, None))
                cur = img
                if k % 11 == 6:
                    cur = rowv2(k, name, float(bal) + 50.0)
                    out.append(((2 << 40) | k, "PUT", key, cur, img))
                if k % 19 == 8:
                    out.append(((3 << 40) | k, "DELETE", key, None, cur))
            yield pd.DataFrame(
                out,
                columns=["commit_ts", "op_type", "key", "value", "old_value"],
            )

    raw = base.mapInPandas(
        encode,
        schema="commit_ts long, op_type string, key binary, value binary, "
               "old_value binary",
    )
    payload = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    env = decode_cdc_events(raw, TID, "tidb.customer", info, payload)
    final = materialize_changelog(env, ["c_custkey"])
    return final.select("c_custkey", "c_name", "c_acctbal")


@register(
    "vitess_vstream_decode",
    """
    WITH flags AS (
      SELECT event_id, user_id, value,
             ((event_id % 4) = 1 AND event_id <= 5000) AS insert_skipped,
             ((event_id % 9) = 2) AS updated,
             ((event_id % 21) = 13) AS deleted
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN updated THEN value + 7.5 ELSE value END AS value
    FROM flags
    WHERE NOT deleted AND (updated OR NOT insert_skipped)
    """,
)
def vitess_vstream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vitess VStream decode with VGTID resume (Debezium Vitess envelope +
    VitessSource VGTID semantics): sharded change records SYNTHESIZED with
    to_json from the events parquet (shard = event_id % 4, per-shard gtid
    txids), decoded by decode_vstream with a start VGTID that already
    covers shard s1's inserts up to txid 5000 — those events are skipped,
    so keys reappear only if a later (uncovered) update upserts them."""
    from pyspark.sql import types as T

    from .sinks.materialize import materialize_changelog
    from .sources.vitess_source import GtidSet, Vgtid, decode_vstream

    pin_session(spark)
    base = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("events")
        .select("event_id", "user_id", "value")
    )
    key = F.col("event_id")
    shard = F.concat(F.lit("s"), (key % 4).cast("string"))
    img = lambda value: F.struct(
        key.alias("event_id"), F.col("user_id").alias("user_id"),
        value.alias("value"),
    )
    src = lambda txid: F.struct(
        F.lit("ks").alias("keyspace"),
        F.lit("events").alias("table"),
        shard.alias("shard"),
        F.format_string("aaa:%d", txid).alias("gtid"),
    )
    null_img = F.lit(None).cast(
        "struct<event_id:bigint,user_id:bigint,value:double>"
    )
    value = F.col("value")
    rec = lambda op, before, after, txid: F.to_json(
        F.struct(
            before.alias("before"), after.alias("after"),
            F.lit(op).alias("op"), src(txid).alias("source"),
        )
    ).alias("value")
    ins = base.select(rec("c", null_img, img(value), key))
    upd = base.where(key % 9 == 2).select(
        rec("u", img(value), img(value + 7.5), key + F.lit(1_000_000))
    )
    dels = base.where(key % 21 == 13).select(
        rec("d",
            img(value + F.when(key % 9 == 2, 7.5).otherwise(0.0)),
            null_img, key + F.lit(2_000_000))
    )
    raw = ins.unionByName(upd).unionByName(dels)
    payload = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    start = Vgtid({"s1": GtidSet.parse("aaa:1-5000")}, keyspace="ks")
    env = decode_vstream(raw, payload, start_vgtid=start)
    final = materialize_changelog(env, ["event_id"])
    return final.select("event_id", "user_id", "value")


@register(
    "mongodb_change_stream_roundtrip",
    """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN (o_orderkey % 7) = 2 THEN o_totalprice + 5.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE (o_orderkey % 13) <> 5
    """,
)
def mongodb_change_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MongoDB change-stream decode roundtrip
    (MongoDBConnectorDeserializationSchema.java:129-166 updateLookup
    scope): canonical-extended-JSON change-stream documents SYNTHESIZED
    with pure format_string expressions from the orders parquet — insert
    docs with $oid/$numberLong/$numberDouble/$date wrappers and KeyString
    resume tokens, post-image-only updates, documentKey-only deletes —
    decoded by decode_change_stream and materialized by _id."""
    from pyspark.sql import types as T

    from .sinks.materialize import materialize_changelog
    from .sources.mongodb_source import decode_change_stream

    pin_session(spark)
    base = (
        ParquetTableSource(spark, sf_dir)
        .snapshot("orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    key = F.col("o_orderkey")
    oid = F.format_string("%024x", key)

    def doc(op, t, full):
        token = F.format_string("82%08x%08x", F.lit(t), key)
        head = F.format_string(
            '{"_id": {"_data": "%s"}, "operationType": "%s", '
            '"clusterTime": {"$timestamp": {"t": %d, "i": %d}}, '
            '"ns": {"db": "app", "coll": "orders"}, '
            '"documentKey": {"_id": {"$oid": "%s"}}',
            token, F.lit(op), F.lit(t), key, oid,
        )
        if full is None:
            return F.concat(head, F.lit("}"))
        return F.concat(head, F.lit(', "fullDocument": '), full, F.lit("}"))

    def img(price):
        return F.format_string(
            '{"_id": {"$oid": "%s"}, "o_orderkey": {"$numberLong": "%d"}, '
            '"o_orderstatus": "%s", "o_totalprice": {"$numberDouble": "%s"}}',
            oid, key, F.col("o_orderstatus"), price,
        )

    price = F.col("o_totalprice")
    ins = base.select(doc("insert", 1000, img(price)).alias("value"))
    upd = base.where(key % 7 == 2).select(
        doc("update", 1001, img(price + 5.0)).alias("value")
    )
    dels = base.where(key % 13 == 5).select(
        doc("delete", 1002, None).alias("value")
    )
    raw = ins.unionByName(upd).unionByName(dels)
    payload = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    env = decode_change_stream(
        raw, "app.orders", payload, database="app", collection="orders"
    )
    final = materialize_changelog(env, ["_id"])
    return final.select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "doris_stream_load_roundtrip",
    """
    SELECT event_id, ts,
           CASE WHEN (event_id % 10) = 3 THEN value + 1.5 ELSE value END AS value,
           event_type
    FROM events
    WHERE (event_id % 20) <> 7
    """,
)
def doris_stream_load_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doris sink roundtrip (DorisEventSerializer.java:60-150 scope):
    envelope -> stream-load JSON bodies with __DORIS_DELETE_SIGN__ and the
    micros timestamp render -> UNIQUE-model apply -> state. Microsecond
    timestamps survive the wire exactly (DATE_TIME_FORMATTER .SSSSSS)."""
    from .sinks.doris_sink import decode_doris, encode_doris
    from .sinks.materialize import materialize_changelog
    from .sources.envelope import payload_struct

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(key_column="event_id", update_exprs={"value": "value + 1.5"})
    env = src.changelog("events", "default.events", mut)
    records = encode_doris(env, label_prefix="r7")
    decoded = decode_doris(records, payload_struct(env), "default.events")
    state = materialize_changelog(decoded, ["event_id"])
    return state.select("event_id", "ts", "value", "event_type")


@register(
    "starrocks_stream_load_roundtrip",
    """
    SELECT event_id, date_trunc('second', ts) AS ts,
           CASE WHEN (event_id % 10) = 3 THEN 'mutated' ELSE event_type END AS event_type,
           user_id
    FROM events
    WHERE (event_id % 20) <> 7
    """,
)
def starrocks_stream_load_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StarRocks sink roundtrip (EventRecordSerializationSchema scope):
    envelope -> stream-load JSON rows with integer __op -> primary-key-table
    apply -> state. The oracle truncates ts to seconds because the wire
    format renders DATETIME at second precision (StarRocksUtils
    DATETIME_FORMATTER) — a real, pinned divergence from Doris."""
    from .sinks.materialize import materialize_changelog
    from .sinks.starrocks_sink import decode_starrocks, encode_starrocks
    from .sources.envelope import payload_struct

    pin_session(spark)
    src = ParquetTableSource(spark, sf_dir)
    mut = MutationSpec(key_column="event_id", update_exprs={"event_type": "'mutated'"})
    env = src.changelog("events", "default.events", mut)
    records = encode_starrocks(env)
    decoded = decode_starrocks(records, payload_struct(env), "default.events")
    state = materialize_changelog(decoded, ["event_id"])
    return state.select("event_id", "ts", "event_type", "user_id")


# ---------------------------------------------------------------------------
# §3.1 CLI end-to-end: YAML in, parquet sink out
# (CliFrontend scope)
# ---------------------------------------------------------------------------


@register(
    "cli_pipeline_e2e",
    """
    SELECT n_nationkey, n_name, UPPER(n_name) AS upper_name
    FROM nation
    WHERE n_regionkey > 1
    """,
)
def cli_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLI surface end-to-end: YAML pipeline definition -> run_pipeline
    -> parquet sink on disk -> read back. Pins that the CLI wiring (YAML
    parse, source/sink factories, transform route) produces the same rows
    as the plain SQL oracle."""
    import shutil
    import tempfile

    from .cli import run_pipeline as cli_run
    from .pipeline.yaml_parser import parse_pipeline_yaml

    pin_session(spark)
    out_dir = tempfile.mkdtemp(prefix="cli_e2e_")
    try:
        pipeline = parse_pipeline_yaml(
            f"""
source:
  type: parquet
  path: {sf_dir}
  tables: nation
  primary-key.nation: n_nationkey
sink:
  type: parquet
  path: {out_dir}
transform:
  - source-table: default.nation
    projection: n_nationkey, n_name, UPPER(n_name) AS upper_name
    filter: n_regionkey > 1
    primary-keys: n_nationkey
pipeline:
  name: cli-e2e
  execution.runtime-mode: BATCH
"""
        )
        cli_run(spark, pipeline)
        written = spark.read.parquet(f"{out_dir}/default.nation")
        rows = written.select("n_nationkey", "n_name", "upper_name").collect()
        return spark.createDataFrame(rows, written.select(
            "n_nationkey", "n_name", "upper_name").schema)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


from .datapipe import contract_ext  # noqa: E402,F401  (registers datapipe queries)
from .analytics import contract_ext as _analytics_ext  # noqa: E402,F401  (OLAP queries)


# ---------------------------------------------------------------------------
# Driver-window ordering.
#
# The driver's CORRECTNESS gate evaluates only the first 50 entries of
# queries(), so the registry is ordered so every row's oracle signal stays
# fresh (tests/test_priority_window.py pins the invariants):
#
#   1. _PRIORITY -- the hand override: rows whose contract/code changed this
#      round.  They carry a recent green signal the artifacts can't know is
#      stale, so this short list is the only part still curated.
#   2. everything else, DERIVED from the CORRECTNESS_r*.json artifacts at
#      registry-build time: never-signalled rows first (a brand-new operator
#      with no oracle signal is the weakest possible state), then by latest
#      driver signal ascending (stalest first), ties broken by registration
#      order.
#
# This makes boundary rotation automatic -- the pytest rotation alarm can now
# only fire on a genuine capacity overflow (>50 rows needing signals in one
# round), not on a hand list going stale when a new artifact lands.
#
# REGISTRY CAPACITY POLICY (r13, VERDICT r12 item 2). A 50-row window on a
# 3-round max-staleness cycle covers 150 signals per cycle, so the registry
# holds at most 150 - SLACK rows, with SLACK >= 8 reserved for new/changed
# rows per round. When a new row would breach the bound, one of these must
# fund it, in order of preference:
#   (a) MERGE rows that gate variants of one machine into a single
#       multi-branch row whose oracle unions the branches with a tag column
#       (done r13: schema_evolution_{ignore,exclude_add_column,try_evolve}
#       -> schema_evolution_behaviors; done r14: kafka_{debezium,canal}_
#       roundtrip -> kafka_codec_roundtrip; done r15: dedup_exact +
#       dedup_exact_keep_payload -> dedup_exact_family and sim_ivf_topk +
#       sim_ivf_fitted_topk -> sim_ivf_family [funded tpch_q9/tpch_q21];
#       next candidates, in order: dedup_semantic_cluster +
#       dedup_semantic_kmeans [one SemDeDup machine, seeded vs fitted
#       centroids], sim_cosine_topk + sim_filtered_topk [one exact top-k
#       probe, the label filter is a pre-scan toggle]);
#   (b) RETIRE a row whose surface is gated at least as strongly elsewhere,
#       moving its exact dataflow-vs-oracle comparison into a NAMED pytest
#       (done r13: corpus_training_pipeline_v2 ->
#       tests/test_corpus_pipeline_v2.py; its stages and the v3 composition
#       remain registry rows);
#   (c) only if neither applies, grow coverage via pytest differentials
#       instead of a registry row.
# A retirement/merge must never drop a comparison: the retired row's Spark
# dataflow and DuckDB oracle both survive verbatim in the named test.
# tests/test_registry_capacity.py enforces the row-count bound.

_PRIORITY: list = [
    # Rows whose CODE changed after their latest driver signal (VERDICT r16
    # item 4): temporal_join_scd2 (carry rewrite, 03637d6) and
    # retract_aggregate (SMJ→group-sum, 2ef8709) landed AFTER the r16
    # `_PRIORITY` rotation, so their r16-code correctness has no driver
    # signal yet; incremental_join_view and retract_topn are re-touched in
    # r17 (commit-constant shave / merge-write fusion — VERDICT r16 items
    # 2 and 7).  Budgeted against the window: the derivation auto-leads 43
    # r14-stale rows, so these 4 + 43 leave 3 slots for r15 rows.
    "streaming_temporal_join_scd2",  # r16 late rewrite, no driver signal on its code
    "streaming_retract_aggregate",  # r16 late rewrite, no driver signal on its code
    "streaming_incremental_join_view",  # r17 commit-constant shave (VERDICT r16 item 2)
    "streaming_retract_topn",  # r17 merge-write fusion candidate (VERDICT r16 item 7)
]


def _artifact_signal_rounds(root=None) -> Dict[str, int]:
    """query name -> latest round with a driver CORRECTNESS_r*.json signal."""
    import json
    from pathlib import Path

    latest: Dict[str, int] = {}
    if root is None:
        root = Path(__file__).resolve().parent.parent
    else:
        root = Path(root)
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(path.stem.rsplit("_r", 1)[1])
            results = json.loads(path.read_text())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        if not isinstance(results, dict):
            continue  # malformed artifact (top-level list/str) — skip, don't crash
        results = results.get("results", results)
        if not isinstance(results, dict):
            continue
        for name in results:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _derived_order(keys) -> list:
    latest = _artifact_signal_rounds()
    idx = {k: i for i, k in enumerate(keys)}
    override = [k for k in _PRIORITY if k in idx]
    seen = set(override)
    rest = sorted(
        (k for k in keys if k not in seen),
        key=lambda k: (latest.get(k, 0), idx[k]),
    )
    return override + rest


def _ordered(mapping: Dict[str, object]) -> Dict[str, object]:
    return {k: mapping[k] for k in _derived_order(list(mapping))}


def queries() -> Dict[str, Callable]:
    return _ordered(QUERIES)


def oracle_sql() -> Dict[str, str]:
    return _ordered(ORACLES)

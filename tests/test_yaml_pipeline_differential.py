"""Randomized differential for the END-TO-END YAML pipeline path:
random pipeline definitions — projection / filter / route drawn from
the spec-corpus vocabulary, over multi-table I/U/D changelogs — are
rendered to YAML text, parsed by the strict parser, composed by
BatchPipelineComposer, and the materialized sink tables are compared
against a sequential Python model that applies the same ops with dict
logic and evaluates the projections/filters with paired Python
lambdas.

The spec-corpus tests pin the parser and each operator in isolation;
the scripted contract rows each prove one deterministic YAML shape.
This probes the composed space around them: transform-per-table
changelogs where updates cross the filter boundary in both directions,
deletes of already-filtered rows, and N->1 route merges downstream of
identical transforms.

Trials in STREAM_TRIALS also replay the same changelogs as wire files
through StreamingPipelineRunner and compare its state with the same
model: the streaming and batch paths share one pipeline front, so they
must agree."""

import random

import pytest
from pyspark.sql import Row

from flink_cdc_spark.core.events import CreateTableEvent, DataChangeEvent
from flink_cdc_spark.core.schema import Schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline import BatchPipelineComposer, parse_pipeline_yaml
from flink_cdc_spark.pipeline.composer import TableStream
from flink_cdc_spark.sources.envelope import OP_DELETE, OP_INSERT, OP_UPDATE

SEED = 0xA71E
# trial 0's projection keeps its column names (`k, v AS v`); trial 2's
# renames (`n7`, `dv`) and drops `v`, which the wire must still decode
STREAM_TRIALS = (0, 2)

# (select-list item, python evaluator over the state tuple (k, s, v, n))
# — generated as a PAIR so both interpreters see the same expression;
# the pair table is the only shared artifact and is small enough to
# review by eye.
PROJ_ITEMS = [
    ("s AS s", lambda k, s, v, n: ("s", s)),
    ("UPPER(s) AS us", lambda k, s, v, n: ("us", s.upper())),
    ("v AS v", lambda k, s, v, n: ("v", v)),
    ("v * 2 AS dv", lambda k, s, v, n: ("dv", v * 2)),
    ("n AS n", lambda k, s, v, n: ("n", n)),
    ("n + 7 AS n7", lambda k, s, v, n: ("n7", n + 7)),
]

FILTERS = [
    ("v > 50", lambda k, s, v, n: v > 50),
    ("n % 2 = 0", lambda k, s, v, n: n % 2 == 0),
    ("s <> 'red'", lambda k, s, v, n: s != "red"),
    ("v <= 120 OR s = 'blue'", lambda k, s, v, n: v <= 120 or s == "blue"),
]

STRINGS = ["red", "green", "blue", "teal"]
VALUES = [10.0, 25.0, 60.0, 99.0, 130.0, 250.0]


def _random_changelog(rng, n_keys, n_mut, key0):
    ops, state, seq = [], {}, 0

    def payload(k):
        return (k, rng.choice(STRINGS), rng.choice(VALUES), rng.randrange(100))

    for k in range(key0, key0 + n_keys):
        p = payload(k)
        ops.append((OP_INSERT, None, p, seq)); seq += 1
        state[k] = p
    for _ in range(n_mut):
        if not state:
            break
        k = rng.choice(sorted(state))
        if rng.random() < 0.7:
            p = payload(k)
            ops.append((OP_UPDATE, state[k], p, seq)); seq += 1
            state[k] = p
        else:
            ops.append((OP_DELETE, state[k], None, seq)); seq += 1
            del state[k]
    return ops, state


def _env_df(spark, ops, table_id):
    cols = ("k", "s", "v", "n")

    def img(t):
        return None if t is None else Row(**dict(zip(cols, t)))

    rows = [
        Row(__table_id=table_id, __op=op, before=img(b), after=img(a),
            __meta={}, __seq=seq)
        for (op, b, a, seq) in ops
    ]
    payload = "k LONG, s STRING, v DOUBLE, n LONG"
    return spark.createDataFrame(
        rows,
        f"__table_id STRING, __op STRING, before STRUCT<{payload}>, "
        f"after STRUCT<{payload}>, __meta MAP<STRING,STRING>, __seq LONG",
    )


def _gen_pipeline(rng, table_ids):
    """Returns (yaml_text, proj_fns_or_None, filter_fn_or_None,
    sink_tables): one shared transform shape (so route merges stay
    schema-aligned), a coin-flipped filter, and a coin-flipped N->1
    route."""
    proj = None
    if rng.random() < 0.75:
        picked = rng.sample(PROJ_ITEMS, rng.randrange(1, len(PROJ_ITEMS) + 1))
        proj = picked
    filt = rng.choice(FILTERS) if rng.random() < 0.6 else None
    merge = rng.random() < 0.5

    lines = ["source: {type: parquet}", "sink: {type: values}"]
    if proj or filt:
        lines.append("transform:")
        for tid in table_ids:
            lines.append(f"  - source-table: {tid}")
            if proj:
                sel = ", ".join(["k"] + [sql for sql, _ in proj])
                lines.append(f"    projection: {sel}")
            if filt:
                lines.append(f"    filter: {filt[0]}")
    if merge:
        lines.append("route:")
        lines.append(r"  - source-table: db.\.*")
        lines.append("    sink-table: out.merged")
    lines.append("pipeline: {execution.runtime-mode: BATCH}")
    sinks = ["out.merged"] if merge else list(table_ids)
    return "\n".join(lines), proj, filt, sinks


def _model_rows(finals, proj, filt):
    """Apply the paired Python projection/filter to each table's final
    state; returns {table_id: set of row tuples (sorted col names)}."""
    out = {}
    for tid, state in finals.items():
        rows = set()
        for k, p in state.items():
            if filt and not filt[1](*p):
                continue
            if proj:
                cols = dict([("k", k)] + [fn(*p) for _, fn in proj])
            else:
                cols = {"k": k, "s": p[1], "v": p[2], "n": p[3]}
            rows.add(tuple(cols[c] for c in sorted(cols)))
        out[tid] = rows
    return out


def _wire_events(tid, ops, schema):
    t = TableId.parse(tid)
    make = {
        OP_INSERT: lambda b, a: DataChangeEvent.insert(t, a),
        OP_UPDATE: lambda b, a: DataChangeEvent.update(t, b, a),
        OP_DELETE: lambda b, a: DataChangeEvent.delete(t, b),
    }
    return [CreateTableEvent(t, schema)] + [make[op](b, a) for op, b, a, _ in ops]


def _stream_tables(spark, tmp_path, pipeline, events, sinks):
    """Replay `events` as one wire file through the streaming runner;
    returns {sink: DataFrame} read back from its state store."""
    from flink_cdc_spark.streaming import StreamingPipelineRunner, write_wire_file

    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(str(src / "f0.json"), events)
    runner = StreamingPipelineRunner(
        spark, pipeline, state_root=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"), shuffle_partitions=2,
    )
    runner.run_available(str(src))
    return {sink: runner.state.read(sink) for sink in sinks}


@pytest.mark.parametrize("trial", [0, 1, 2, 3, 4])
def test_yaml_pipeline_vs_sequential_model(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    table_ids = [f"db.t{i}" for i in range(rng.choice([2, 3]))]
    yaml_text, proj, filt, sinks = _gen_pipeline(rng, table_ids)

    streams, finals, events = [], {}, []
    for i, tid in enumerate(table_ids):
        ops, final = _random_changelog(
            rng, n_keys=rng.choice([15, 25]), n_mut=40, key0=1000 * i
        )
        env = _env_df(spark, ops, tid)
        schema = Schema.from_spark_struct(
            spark.createDataFrame(
                [], "k LONG, s STRING, v DOUBLE, n LONG"
            ).schema,
            primary_keys=("k",),
        )
        streams.append(TableStream(TableId.parse(tid), env, schema,
                                   insert_only=False))
        finals[tid] = final
        events += _wire_events(tid, ops, schema)

    pipeline = parse_pipeline_yaml(yaml_text)
    result = BatchPipelineComposer(spark, pipeline).compose(streams)

    model = _model_rows(finals, proj, filt)
    if sinks == ["out.merged"]:
        model = {"out.merged": set().union(*model.values())}

    legs = {"batch": result.tables}
    if trial in STREAM_TRIALS:
        legs["stream"] = _stream_tables(spark, tmp_path, pipeline, events, sinks)
    for leg, tables in legs.items():
        for sink in sinks:
            df = tables[sink]
            got = {
                tuple(row[c] for c in sorted(df.columns)) for row in df.collect()
            }
            assert got == model[sink], (
                f"trial {trial} {leg} sink {sink}\nyaml:\n{yaml_text}"
            )

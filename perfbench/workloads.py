"""The four workloads: seeded input generators, the timed pass over the
package's public entry points, and a DuckDB reference for the output check.

Every generator draws from ``numpy.random.default_rng(seed)`` only, so the
same seed gives byte-identical inputs. Keys are unique by construction
(drawn from a permutation).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_cdc_spark.core import types as ct
from flink_cdc_spark.core.schema import Column, Schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline.cdc_pipeline import JdbcCdcPipeline
from flink_cdc_spark.pipeline.composer import BatchPipelineComposer, TableStream
from flink_cdc_spark.pipeline.definition import (
    PipelineConfig,
    PipelineDef,
    RouteDef,
    SinkDef,
    SourceDef,
    TransformDef,
)
from flink_cdc_spark.sinks.lsm_store import LsmStateStore
from flink_cdc_spark.sources.jdbc_live import (
    JdbcEndpoint,
    JdbcLiveSourceConfig,
    derby_url,
    install_capture,
)
from flink_cdc_spark.sources.parquet_source import MutationSpec, ParquetTableSource
from flink_cdc_spark.streaming.retract_agg import (
    RetractAggregateStream,
    stage_replay_batches,
)
from flink_cdc_spark.streaming.runner import StreamingPipelineRunner
from flink_cdc_spark.streaming.wire import WIRE_SCHEMA

from . import check
from .harness import PassResult, full_read, span

# epochs (or polls) per pass: a multiple of compact_every, so every pass
# holds the same number of compactions
EPOCHS = 8
COMPACT_EVERY = 8

_WORDS = np.array(
    "quick brown fox jumps over lazy dog pending final express regular "
    "special ironic careful bold silent furious even blithe".split()
)


def _words(rng, n: int) -> np.ndarray:
    return np.char.add(np.char.add(rng.choice(_WORDS, n), " "), rng.choice(_WORDS, n))


def _prices(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """One named workload. ``generate`` makes the inputs from the seed and
    needs no Spark session; ``prepare`` generates them and stages them where
    the pipeline reads them. The harness times ``prepare`` several times;
    the passes share what it made. ``scale`` shrinks every input size: the
    warm-up runs the same pass on a copy at ``WARMUP_SCALE``."""

    # Per-pass cost is mostly per-epoch and per-job fixed cost, so a warm-up
    # on an eighth of the inputs does most of what a full-size one does:
    # the timed wire epochs after a quarter-size warm-up were as fast as
    # after a full-size one.
    WARMUP_SCALE = 0.125
    MIN_PASSES = 1

    def __init__(self, spark, root: str, seed: int, listener, scale: float = 1.0):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.listener = listener
        self.scale = scale
        os.makedirs(root, exist_ok=True)

    def size(self, n: int) -> int:
        """An input size of the full workload, scaled."""
        return max(1, round(n * self.scale))

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        self.generate()

    def reference(self, con) -> tuple:
        raise NotImplementedError

    def run_pass(self, pass_dir: str, tracer) -> PassResult:
        """Apply the inputs to fresh state under ``pass_dir``."""
        raise NotImplementedError

    def warm_up_pass(self, pass_dir: str) -> PassResult:
        """The untimed warm-up: by default a pass like the timed ones."""
        return self.run_pass(pass_dir, None)

    def output_digest(self, con, pass_dir: str) -> tuple:
        raise NotImplementedError

    def close(self) -> None:
        """Release what the workload holds open."""


# ---------------------------------------------------------------------------
# snapshot_batch
# ---------------------------------------------------------------------------


class SnapshotBatch(Workload):
    """Initial load of two tables plus a seeded update/delete tail:
    parquet changelog -> BatchPipelineComposer (computed columns, a
    filter, a replace-symbol route) -> materialize_changelog -> parquet."""

    N_ORDERS = 120_000
    N_CUSTOMERS = 30_000
    # the first timed pass still ran 1.2-1.9x slower than the next ones;
    # the median of three leaves it out
    MIN_PASSES = 3
    FILES = 8

    ORDERS_PROJECTION = (
        "o_orderkey, o_custkey, o_status, o_totalprice, "
        "o_totalprice * 2 AS price2, UPPER(o_comment) AS comment_uc, "
        "o_orderkey % 16 AS shard"
    )
    ORDERS_FILTER = "o_totalprice > 5000"
    CUSTOMER_PROJECTION = "*, CONCAT(c_name, '/', c_mktsegment) AS tag"
    CUSTOMER_FILTER = "c_nationkey <> 3"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.src = os.path.join(self.root, "src")
        rng = np.random.default_rng([self.seed, 1])
        self.orders_mut = MutationSpec(
            "o_orderkey", update_mod=4, update_rem=int(rng.integers(4)),
            update_exprs={"o_totalprice": "o_totalprice + 10.5", "o_status": "'U'"},
            delete_mod=10, delete_rem=int(rng.integers(10)),
        )
        self.customer_mut = MutationSpec(
            "c_custkey", update_mod=3, update_rem=int(rng.integers(3)),
            update_exprs={"c_acctbal": "c_acctbal * 2", "c_mktsegment": "lower(c_mktsegment)"},
            delete_mod=12, delete_rem=int(rng.integers(12)),
        )
        string, bigint, double = ct.string(), ct.bigint(), ct.double()
        self.tables = [
            ("orders", self.orders_mut, Schema(
                columns=(
                    Column("o_orderkey", bigint.not_null()), Column("o_custkey", bigint),
                    Column("o_status", string), Column("o_totalprice", double),
                    Column("o_comment", string),
                ),
                primary_keys=("o_orderkey",),
            )),
            ("customer", self.customer_mut, Schema(
                columns=(
                    Column("c_custkey", bigint.not_null()), Column("c_name", string),
                    Column("c_nationkey", bigint), Column("c_acctbal", double),
                    Column("c_mktsegment", string),
                ),
                primary_keys=("c_custkey",),
            )),
        ]
        self.pipeline = PipelineDef(
            source=SourceDef("parquet"),
            sink=SinkDef("parquet"),
            routes=[RouteDef("app.\\.*", "ods.<>", replace_symbol="<>")],
            transforms=[
                TransformDef("app.orders", self.ORDERS_PROJECTION, self.ORDERS_FILTER),
                TransformDef("app.customer", self.CUSTOMER_PROJECTION, self.CUSTOMER_FILTER),
            ],
            config=PipelineConfig(runtime_mode="BATCH"),
        )
        self.events = 0

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 2])
        n, m = self.size(self.N_ORDERS), self.size(self.N_CUSTOMERS)
        orders = pa.table({
            "o_orderkey": rng.permutation(np.arange(1, 4 * n + 1))[:n],
            "o_custkey": rng.integers(1, m + 1, n),
            "o_status": rng.choice(np.array(["O", "F", "P"]), n),
            "o_totalprice": _prices(rng, n, 900.0, 500_000.0),
            "o_comment": _words(rng, n),
        })
        customer = pa.table({
            "c_custkey": rng.permutation(np.arange(1, m + 1)),
            "c_name": np.char.add("Customer#", np.char.zfill(rng.permutation(m).astype(str), 9)),
            "c_nationkey": rng.integers(0, 25, m),
            "c_acctbal": _prices(rng, m, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]), m),
        })
        _fresh_dir(self.src)
        self.events = 0
        for (name, mut, _), table in zip(self.tables, (orders, customer)):
            out = _fresh_dir(os.path.join(self.src, f"{name}.parquet"))
            step = -(-table.num_rows // self.FILES)
            for i in range(self.FILES):
                pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i}.parquet"))
            keys = table.column(mut.key_column).to_numpy()
            self.events += (
                table.num_rows
                + int(np.sum(keys % mut.update_mod == mut.update_rem))
                + int(np.sum(keys % mut.delete_mod == mut.delete_rem))
            )

    def reference(self, con) -> tuple:
        o, c = self.orders_mut, self.customer_mut
        src = self.src
        con.execute(f"""
            CREATE OR REPLACE VIEW ref_orders AS
            WITH f AS (
              SELECT o_orderkey, o_custkey,
                CASE WHEN o_orderkey % {o.update_mod} = {o.update_rem} THEN 'U' ELSE o_status END AS o_status,
                CASE WHEN o_orderkey % {o.update_mod} = {o.update_rem} THEN o_totalprice + 10.5
                     ELSE o_totalprice END AS o_totalprice,
                o_comment
              FROM read_parquet('{src}/orders.parquet/*.parquet')
              WHERE o_orderkey % {o.delete_mod} <> {o.delete_rem})
            SELECT o_orderkey, o_custkey, o_status, o_totalprice, o_totalprice * 2 AS price2,
                   upper(o_comment) AS comment_uc, o_orderkey % 16 AS shard
            FROM f WHERE o_totalprice > 5000""")
        con.execute(f"""
            CREATE OR REPLACE VIEW ref_customer AS
            WITH f AS (
              SELECT c_custkey, c_name, c_nationkey,
                CASE WHEN c_custkey % {c.update_mod} = {c.update_rem} THEN c_acctbal * 2
                     ELSE c_acctbal END AS c_acctbal,
                CASE WHEN c_custkey % {c.update_mod} = {c.update_rem} THEN lower(c_mktsegment)
                     ELSE c_mktsegment END AS c_mktsegment
              FROM read_parquet('{src}/customer.parquet/*.parquet')
              WHERE c_custkey % {c.delete_mod} <> {c.delete_rem})
            SELECT *, c_name || '/' || c_mktsegment AS tag FROM f WHERE c_nationkey <> 3""")
        return (check.digest(con, "ref_customer"), check.digest(con, "ref_orders"))

    def run_pass(self, pass_dir: str, tracer) -> PassResult:
        source = ParquetTableSource(self.spark, self.src)
        composer = BatchPipelineComposer(self.spark, self.pipeline)
        t0 = time.perf_counter()
        with span(tracer, "sources.parquet.changelog"):
            streams = []
            for name, mut, schema in self.tables:
                df = source.changelog(name, f"app.{name}", mut)
                if tracer is not None:
                    df = tracer.force(df)
                streams.append(TableStream(TableId.parse(f"app.{name}"), df, schema))
        with span(tracer, "pipeline.compose"):
            result = composer.compose(streams)
        for sink, df in sorted(result.tables.items()):
            with span(tracer, "sinks.parquet.write"):
                df.write.mode("overwrite").parquet(os.path.join(pass_dir, sink))
        apply_s = time.perf_counter() - t0
        return PassResult(events=self.events, apply_s=apply_s, epochs=[apply_s], ops=1)

    def output_digest(self, con, pass_dir: str) -> tuple:
        out = []
        for sink in ("ods.customer", "ods.orders"):
            con.execute(
                f"CREATE OR REPLACE VIEW out_t AS SELECT * FROM "
                f"read_parquet('{os.path.join(pass_dir, sink)}/*.parquet')"
            )
            out.append(check.digest(con, "out_t"))
        return tuple(out)


# ---------------------------------------------------------------------------
# wire_stream_evolve
# ---------------------------------------------------------------------------


class WireStreamEvolve(Workload):
    """Wire-JSON changelog tail with mid-stream DDL, one file per trigger,
    through StreamingPipelineRunner.process_batch into LsmStateStore.

    Epoch plan (each key changes at most once per epoch):
      0-1  inserts, half the keys each
      2    ADD COLUMN note, then updates that set it
      3    updates
      4    RENAME COLUMN price -> unit_price, then updates
      5    ALTER COLUMN qty INT -> BIGINT, then updates with wide values
      6-7  deletes and updates
    """

    N_KEYS = 12_000
    UPDATE_SHARE = 0.4
    DELETE_SHARE = 0.1
    TABLE = "app.items"
    PROJECTION = "*, UPPER(name) AS name_uc, id % 16 AS shard"
    FILTER = "id % 10 <> 7"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.src = os.path.join(self.root, "wire")
        self.pipeline = PipelineDef(
            source=SourceDef("wire"),
            sink=SinkDef("lake"),
            transforms=[TransformDef(self.TABLE, self.PROJECTION, self.FILTER)],
            config=PipelineConfig(schema_change_behavior="EVOLVE"),
        )
        self.events = 0
        self.log = None  # every data event, after-image in final column names

    @staticmethod
    def _ddl(kind: str, body: dict) -> str:
        import json

        return json.dumps({"type": kind, **body})

    def generate(self) -> None:
        import duckdb

        rng = np.random.default_rng([self.seed, 3])
        k = self.size(self.N_KEYS)
        ids = rng.permutation(np.arange(1, 4 * k + 1))[:k]
        name = np.char.add("item-", rng.integers(0, 10**6, k).astype(str)).astype(object)
        qty = rng.integers(1, 1000, k).astype(np.int64)
        price = _prices(rng, k, 1.0, 999.0)
        note = np.full(k, None, dtype=object)
        alive = np.zeros(k, dtype=bool)
        ddl = {
            0: ("CREATE_TABLE", {"schema": {"columns": [
                {"name": "id", "type": "BIGINT NOT NULL"}, {"name": "name", "type": "STRING"},
                {"name": "qty", "type": "INT"}, {"name": "price", "type": "DOUBLE"},
            ], "primary_keys": ["id"]}}),
            2: ("ADD_COLUMN", {"columns": [{"name": "note", "type": "STRING", "position": "LAST"}]}),
            4: ("RENAME_COLUMN", {"mapping": [["price", "unit_price"]]}),
            5: ("ALTER_COLUMN_TYPE", {"types": [["qty", "BIGINT"]]}),
        }
        seq = 0
        frames, log = [], []
        for epoch in range(EPOCHS):
            cols = ["id", "name", "qty", "price" if epoch < 4 else "unit_price"]
            if epoch >= 2:
                cols.append("note")
            if epoch < 2:
                idx = np.arange(k)[epoch::2]
                ops = np.full(len(idx), "INSERT")
            else:
                live = np.flatnonzero(alive)
                n_del = int(len(live) * self.DELETE_SHARE) if epoch >= 6 else 0
                n_upd = int(len(live) * self.UPDATE_SHARE) - n_del
                idx = rng.choice(live, n_del + n_upd, replace=False)
                ops = np.array(["DELETE"] * n_del + ["UPDATE"] * n_upd)
                order = rng.permutation(len(idx))
                idx, ops = idx[order], ops[order]
            before = pd.DataFrame({
                "id": ids[idx], "name": name[idx], "qty": qty[idx],
                cols[3]: price[idx], **({"note": note[idx]} if epoch >= 2 else {}),
            })
            upd = ops == "UPDATE"
            n_upd = int(upd.sum())
            if n_upd:
                qty[idx[upd]] = rng.integers(1, 1000, n_upd) + (
                    (1 << 33) if epoch >= 5 else 0)
                price[idx[upd]] = _prices(rng, n_upd, 1.0, 999.0)
                note[idx[upd]] = np.char.add("note-", rng.integers(0, 10**6, n_upd).astype(str))
            alive[idx] = ops != "DELETE"
            after = pd.DataFrame({
                "id": ids[idx], "name": name[idx], "qty": qty[idx],
                cols[3]: price[idx], **({"note": note[idx]} if epoch >= 2 else {}),
            })
            n = len(idx)
            start = seq + (1 if epoch in ddl else 0)
            ev = pd.DataFrame({"seq": np.arange(start, start + n), "op": ops})
            for c in cols:
                ev["b_" + c] = before[c].to_numpy()
                ev["a_" + c] = after[c].to_numpy()
            frames.append((epoch, seq if epoch in ddl else None, ev, cols))
            log.append(pd.DataFrame({
                "seq": ev["seq"], "op": ops, "id": after["id"], "name": after["name"],
                "qty": after["qty"], "unit_price": after[cols[3]],
                "note": after["note"] if epoch >= 2 else None,
            }))
            seq = start + n
        self.log = pd.concat(log, ignore_index=True)
        self.events = len(self.log)

        _fresh_dir(self.src)
        con = duckdb.connect()
        try:
            for epoch, ddl_seq, ev, cols in frames:
                con.register("ev", ev)
                b = ", ".join(f"{c} := b_{c}" for c in cols)
                a = ", ".join(f"{c} := a_{c}" for c in cols)
                ddl_row = ""
                if ddl_seq is not None:
                    kind, body = ddl[epoch]
                    text = self._ddl(kind, body).replace("'", "''")
                    ddl_row = (
                        f"SELECT 'DDL' AS kind, '{self.TABLE}' AS table_id, NULL AS op, "
                        f"NULL AS before, NULL AS after, {ddl_seq}::BIGINT AS seq, "
                        f"'{text}' AS ddl UNION ALL "
                    )
                path = os.path.join(self.src, f"e{epoch:02d}.json")
                con.execute(f"""
                    COPY ({ddl_row}
                      SELECT 'DATA' AS kind, '{self.TABLE}' AS table_id, op,
                        CASE WHEN op <> 'INSERT' THEN to_json(struct_pack({b}))::VARCHAR END
                          AS before,
                        CASE WHEN op <> 'DELETE' THEN to_json(struct_pack({a}))::VARCHAR END
                          AS after,
                        seq, NULL AS ddl
                      FROM ev ORDER BY seq) TO '{path}' (FORMAT JSON)""")
                con.unregister("ev")
                # the file source orders files by modification time
                os.utime(path, (1_000_000 + epoch, 1_000_000 + epoch))
        finally:
            con.close()

    def reference(self, con) -> tuple:
        con.register("wire_log", self.log)
        con.execute(f"""
            CREATE OR REPLACE VIEW ref_items AS
            WITH last AS (
              SELECT * FROM wire_log
              QUALIFY row_number() OVER (PARTITION BY id ORDER BY seq DESC) = 1)
            SELECT id, name, qty, unit_price, note, upper(name) AS name_uc, id % 16 AS shard
            FROM last WHERE op <> 'DELETE' AND id % 10 <> 7""")
        return check.digest(con, "ref_items")

    def run_pass(self, pass_dir: str, tracer) -> PassResult:
        return self._stream(pass_dir, files_per_trigger=1)

    def warm_up_pass(self, pass_dir: str) -> PassResult:
        """Two files per trigger and a compaction every 4 commits: every
        DDL kind and a compaction in half the epochs, which saves the
        warm-up about 10 s."""
        return self._stream(pass_dir, files_per_trigger=2)

    def _stream(self, pass_dir: str, files_per_trigger: int) -> PassResult:
        epochs = EPOCHS // files_per_trigger
        runner = StreamingPipelineRunner(
            self.spark, self.pipeline, os.path.join(pass_dir, "state"),
            os.path.join(pass_dir, "ckpt"), compact_every=COMPACT_EVERY // files_per_trigger,
        )
        mark = self.listener.mark()
        t0 = time.perf_counter()
        q = (
            self.spark.readStream.schema(WIRE_SCHEMA)
            .option("maxFilesPerTrigger", files_per_trigger)
            .json(self.src)
            .writeStream.foreachBatch(runner.process_batch)
            .option("checkpointLocation", os.path.join(pass_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        runner.state.seal_all()
        apply_s = time.perf_counter() - t0
        triggers = self.listener.since(mark, epochs)
        return PassResult(
            events=self.events, apply_s=apply_s,
            epochs=[t["triggerExecution"] / 1000 for t in triggers],
            ops=epochs, triggers=triggers,
        )

    def output_digest(self, con, pass_dir: str) -> tuple:
        state = LsmStateStore(self.spark, os.path.join(pass_dir, "state"))
        return check.spark_digest(con, state.read(self.TABLE))


# ---------------------------------------------------------------------------
# jdbc_tail_read
# ---------------------------------------------------------------------------


class JdbcTailRead(Workload):
    """Live Derby table -> JdbcCdcPipeline: chunked snapshot with LW/HW
    handoff, then polls that each consume seeded UPDATE/DELETE/INSERT DML
    (one poll also sees an ALTER TABLE ADD COLUMN), with a full read of
    the LSM state after every poll. The DML runs between timed steps."""

    N_ROWS = 16_000
    CHUNK_SIZE = 2_000
    UPDATES, DELETES, INSERTS = 300, 60, 120
    DDL_POLL = 3
    COLS = ["id", "name", "val", "qty"]

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.csv = os.path.join(self.root, "items.csv")
        self.db = os.path.join(self.root, "derby", "db")
        self.polls: list = []  # per poll: list of SQL with {t} for the table
        self._conn = None
        self._loaded = 0
        self._tables: list = []  # loaded tables no pass has consumed yet

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 4])
        n = self.size(self.N_ROWS)
        ids = rng.permutation(np.arange(1, 4 * n + 1))[:n]
        pd.DataFrame({
            "id": ids,
            "name": np.char.add("n", rng.integers(0, 10**6, n).astype(str)),
            "val": np.char.mod("%.2f", _prices(rng, n, 0.0, 1000.0)),
            "qty": rng.integers(0, 100, n),
        }).to_csv(self.csv, header=False, index=False)
        alive = set(ids.tolist())
        next_id = 4 * n + 1
        has_score = False
        self.polls = []
        n_upd, n_del, n_ins = map(self.size, (self.UPDATES, self.DELETES, self.INSERTS))
        for poll in range(EPOCHS):
            sql = []
            if poll == self.DDL_POLL:
                sql.append("ALTER TABLE {t} ADD COLUMN score DOUBLE")
                has_score = True
            live = np.array(sorted(alive))
            pick = rng.choice(live, n_upd + n_del, replace=False)
            upd, dele = pick[:n_upd], pick[n_upd:]
            score = ", score = qty * 0.25" if has_score else ""
            sql.append(
                f"UPDATE {{t}} SET val = val + 1.5, qty = qty + 1{score} "
                f"WHERE id IN ({', '.join(map(str, upd))})"
            )
            sql.append(f"DELETE FROM {{t}} WHERE id IN ({', '.join(map(str, dele))})")
            alive.difference_update(dele.tolist())
            new = np.arange(next_id, next_id + n_ins)
            next_id += n_ins
            alive.update(new.tolist())
            vals = _prices(rng, n_ins, 0.0, 1000.0)
            qtys = rng.integers(0, 100, n_ins)
            if has_score:
                rows = ", ".join(
                    f"({i}, 'p{i}', {v:.2f}, {q}, {q / 4})" for i, v, q in zip(new, vals, qtys))
                sql.append(f"INSERT INTO {{t}} (id, name, val, qty, score) VALUES {rows}")
            else:
                rows = ", ".join(f"({i}, 'p{i}', {v:.2f}, {q})" for i, v, q in zip(new, vals, qtys))
                sql.append(f"INSERT INTO {{t}} (id, name, val, qty) VALUES {rows}")
            self.polls.append(sql)

    def prepare(self) -> None:
        """Generate the inputs and load them into a fresh table: a pass
        consumes its table, because the pass's DML changes it."""
        self.generate()
        self._tables.append(self._load())

    def _load(self) -> str:
        self._loaded += 1
        table = f"ITEMS{self._loaded}"
        if self._conn is None:
            # boot the embedded Derby engine with its log inside the work dir
            # before any JdbcEndpoint connects
            jvm = self.spark.sparkContext._jvm
            jvm.java.lang.System.setProperty(
                "derby.stream.error.file", os.path.join(self.root, "derby.log"))
            self._conn = jvm.java.sql.DriverManager.getConnection(derby_url(self.db))
        st = self._conn.createStatement()
        try:
            st.execute(
                f"CREATE TABLE {table} (id BIGINT NOT NULL PRIMARY KEY, "
                "name VARCHAR(40), val DOUBLE, qty INTEGER)"
            )
            st.execute(
                f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '{table}', '{self.csv}', "
                "',', '\"', null, 0)"
            )
        finally:
            st.close()
        ep = JdbcEndpoint(self.spark, derby_url(self.db, create=False))
        install_capture(ep, table, self.COLS)
        ep.close()
        return table

    def reference(self, con) -> tuple:
        con.execute(
            "CREATE OR REPLACE TABLE ref_items (id BIGINT, name VARCHAR, val DOUBLE, qty INTEGER)")
        con.execute(f"COPY ref_items FROM '{self.csv}' (FORMAT CSV, HEADER false)")
        for sql in self.polls:
            for stmt in sql:
                con.execute(stmt.format(t="ref_items"))
        return check.digest(con, "ref_items")

    def run_pass(self, pass_dir: str, tracer) -> PassResult:
        table = self._tables.pop(0) if self._tables else self._load()
        cfg = JdbcLiveSourceConfig(
            url=derby_url(self.db, create=False), table=table, key_column="id",
            table_id="app.items", chunk_size=self.size(self.CHUNK_SIZE),
        )
        pipe = JdbcCdcPipeline(self.spark, cfg, os.path.join(pass_dir, "state"),
                               compact_every=COMPACT_EVERY)
        dml = JdbcEndpoint(self.spark, derby_url(self.db, create=False))
        try:
            t0 = time.perf_counter()
            pipe.bootstrap()
            snapshot_s = time.perf_counter() - t0
            events, epochs, reads = self.size(self.N_ROWS), [], []
            for sql in self.polls:
                for stmt in sql:
                    dml.execute(stmt.format(t=table))
                t0 = time.perf_counter()
                events += pipe.poll_once()
                epochs.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                full_read(pipe.current_state())
                reads.append(time.perf_counter() - t0)
        finally:
            dml.close()
            pipe.source.ep.close()
        return PassResult(
            events=events, apply_s=snapshot_s + sum(epochs), epochs=epochs, reads=reads,
            snapshot_s=snapshot_s, ops=1 + 2 * len(epochs),
        )

    def output_digest(self, con, pass_dir: str) -> tuple:
        state = LsmStateStore(self.spark, os.path.join(pass_dir, "state"))
        return check.spark_digest(con, state.read("app.items"))

    def close(self) -> None:
        if self._conn is not None:
            self._conn.close()
            self._conn = None


# ---------------------------------------------------------------------------
# retract_agg_epochs
# ---------------------------------------------------------------------------


class RetractAggEpochs(Workload):
    """An orders changelog staged into single-file epochs
    (stage_replay_batches) and folded by RetractAggregateStream.run into a
    per-customer (count, exact-cents sum) aggregate. Inserts come first,
    then group-moving updates, then deletes."""

    N_ORDERS = 16_000
    N_GROUPS = 2_000
    INSERT_EPOCHS, UPDATE_EPOCHS = 4, 2  # the remaining epochs delete
    UPDATE_SHARE, DELETE_SHARE = 0.3, 0.1

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.active = os.path.join(self.root, "active")
        self.log = None
        self.events = 0

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 5])
        n = self.size(self.N_ORDERS)
        key = rng.permutation(np.arange(1, 4 * n + 1))[:n]
        groups = self.size(self.N_GROUPS)
        cust = rng.integers(1, groups + 1, n)
        price = _prices(rng, n, 900.0, 500_000.0)
        alive = np.zeros(n, dtype=bool)
        frames, seq = [], 0
        for epoch in range(EPOCHS):
            if epoch < self.INSERT_EPOCHS:
                idx = np.arange(n)[epoch::self.INSERT_EPOCHS]
                op = "INSERT"
            else:
                live = np.flatnonzero(alive)
                updating = epoch < self.INSERT_EPOCHS + self.UPDATE_EPOCHS
                share = self.UPDATE_SHARE if updating else self.DELETE_SHARE
                idx = rng.choice(live, int(len(live) * share), replace=False)
                op = "UPDATE" if updating else "DELETE"
            m = len(idx)
            ev = pd.DataFrame({
                "__b": np.full(m, epoch), "__seq": np.arange(seq, seq + m), "__op": op,
                "b_cust": cust[idx], "b_price": price[idx],
            })
            if op == "UPDATE":
                cust[idx] = rng.integers(1, groups + 1, m)
                price[idx] = _prices(rng, m, 900.0, 500_000.0)
            alive[idx] = op != "DELETE"
            ev["key"], ev["a_cust"], ev["a_price"] = key[idx], cust[idx], price[idx]
            frames.append(ev)
            seq += m
        self.log = pd.concat(frames, ignore_index=True)
        self.events = len(self.log)

    def prepare(self) -> None:
        self.generate()
        df = self.spark.createDataFrame(self.log)
        image = lambda c, p: F.struct(  # noqa: E731
            F.col("key").alias("o_orderkey"), F.col(c).alias("o_custkey"),
            F.col(p).alias("o_totalprice"))
        env = df.select(
            F.lit("app.orders").alias("__table_id"),
            F.col("__op"),
            F.when(F.col("__op") != "INSERT", image("b_cust", "b_price")).alias("before"),
            F.when(F.col("__op") != "DELETE", image("a_cust", "a_price")).alias("after"),
            F.create_map().cast("map<string,string>").alias("__meta"),
            F.col("__seq").cast("long"),
            F.col("__b").cast("int"),
        )
        stage_replay_batches(env, _fresh_dir(self.active), n_batches=EPOCHS)

    def reference(self, con) -> tuple:
        con.register("agg_log", self.log)
        con.execute("""
            CREATE OR REPLACE VIEW ref_agg AS
            WITH final AS (
              SELECT * FROM agg_log
              QUALIFY row_number() OVER (PARTITION BY key ORDER BY __seq DESC) = 1)
            SELECT a_cust AS grp, count(*)::BIGINT AS n_rows,
                   sum(floor(a_price * 100 + 0.5)::BIGINT)::BIGINT AS sum_cents
            FROM final WHERE __op <> 'DELETE' GROUP BY a_cust""")
        return check.digest(con, "ref_agg")

    def run_pass(self, pass_dir: str, tracer) -> PassResult:
        stream = RetractAggregateStream(
            self.spark, pass_dir, "o_custkey", "o_totalprice",
            staged_dir=self.active, compact_every=COMPACT_EVERY,
        )
        mark = self.listener.mark()
        t0 = time.perf_counter()
        stream.run()
        apply_s = time.perf_counter() - t0
        triggers = self.listener.since(mark, EPOCHS)
        return PassResult(
            events=self.events, apply_s=apply_s,
            epochs=[t["triggerExecution"] / 1000 for t in triggers],
            ops=EPOCHS, triggers=triggers,
        )

    def output_digest(self, con, pass_dir: str) -> tuple:
        state = LsmStateStore(self.spark, os.path.join(pass_dir, "state"))
        return check.spark_digest(con, state.read(RetractAggregateStream._AGG))


WORKLOADS = {
    "snapshot_batch": SnapshotBatch,
    "wire_stream_evolve": WireStreamEvolve,
    "jdbc_tail_read": JdbcTailRead,
    "retract_agg_epochs": RetractAggEpochs,
}

"""Transform operator: projection + filter over a changelog envelope.

The Spark rebuild of the reference's PreTransform/PostTransform pair
(runtime/operators/transform/PreTransformOperator.java:311-345,
PostTransformOperator.java:276-414) as narrow DataFrame selects built
from SQL text — no shuffle, fully inside whole-stage codegen:

  * Projection expressions are compiled (expressions/compiler.py) to SQL
    text per image, once bound to `after` and once to `before`, because
    computed columns are evaluated per-image with per-image
    __data_event_type__ (TransformContext.java:86). Compiling is pure
    Python and cheap, so a processor is built per epoch, not cached.
  * ``apply`` wraps that text in ``named_struct`` / ``CASE`` / ``coalesce``
    text and applies it with one ``selectExpr`` (plus, with a filter, one
    ``where`` and one normalizing ``selectExpr``): a handful of
    driver→JVM calls however many columns the projection has, where a
    plan of ``Column`` objects costs several calls per field.
  * Column pruning (the reference's PreTransformOperator) is Catalyst's
    job: because the projection is expressed as a select over envelope
    struct fields, unreferenced payload fields never leave the scan.
  * Filter-on-UPDATE splitting (PostTransformOperator.java:314-343): the
    predicate runs on both projected images; Y/Y keeps the UPDATE, Y/N
    converts to DELETE, N/Y converts to INSERT, N/N drops the row.
    Implemented with CASE columns — the UPDATE's two images stay in one
    row throughout (no explode).
  * Primary keys forced non-null (PostTransformOperator.java:254).
  * SOFT_DELETE converter (transform/converter/): DELETE -> INSERT with
    before image moved to after.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, types as T

from ..core.schema import Schema
from ..core.selectors import Selectors
from ..core.table_id import TableId
from ..core import types as ct
from ..core.sql_text import named_struct, quote, sql_string
from ..expressions.compiler import (
    CompileError,
    ExpressionCompiler,
    ExpressionContext,
    referenced_columns,
)
from ..expressions.projection import ProjectionColumn, parse_projection
from ..expressions.parser import parse
from ..sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_TABLE_ID,
    OP_DELETE,
    OP_INSERT,
    OP_REPLACE,
    OP_UPDATE,
    ROW_IMAGE_SQL,
    select_envelope,
)


@dataclass
class TransformRule:
    """One YAML `transform:` entry (composer/definition/TransformDef.java)."""

    source_table: str  # selector pattern
    projection: Optional[str] = None
    filter: Optional[str] = None
    primary_keys: tuple = ()
    partition_keys: tuple = ()
    table_options: tuple = ()
    converter_after_transform: Optional[str] = None  # SOFT_DELETE
    description: Optional[str] = None

    def selectors(self) -> Selectors:
        return Selectors(self.source_table)


def _meta_bindings(image: str) -> dict:
    """Metadata-column SQL bindings for one image ('before'/'after').

    __data_event_type__ is per-image: an UPDATE's before renders -U and
    after renders +U (TransformContext.java:86, DataChangeEvent.java:82-93).
    """
    op = f"`{ENVELOPE_OP}`"
    if image == "after":
        evt = (
            f"(CASE {op} WHEN 'INSERT' THEN '+I' WHEN 'UPDATE' THEN '+U' "
            f"WHEN 'REPLACE' THEN '+R' WHEN 'DELETE' THEN '-D' END)"
        )
    else:
        evt = (
            f"(CASE {op} WHEN 'INSERT' THEN '+I' WHEN 'UPDATE' THEN '-U' "
            f"WHEN 'REPLACE' THEN '+R' WHEN 'DELETE' THEN '-D' END)"
        )
    tid = f"`{ENVELOPE_TABLE_ID}`"
    # namespace/schema/table from the dotted id: missing parts render NULL
    parts = f"split({tid}, '\\\\.')"
    return {
        "__table_name__": f"element_at({parts}, -1)",
        "__schema_name__": f"(CASE WHEN size({parts}) >= 2 THEN element_at({parts}, -2) END)",
        "__namespace_name__": f"(CASE WHEN size({parts}) >= 3 THEN element_at({parts}, -3) END)",
        "__data_event_type__": evt,
    }


class TransformProcessor:
    """Compiled transform for one (rule, input payload schema) pair —
    the analog of the reference's cached per-table TransformProjectionProcessor
    + TransformFilterProcessor."""

    def __init__(
        self,
        rule: TransformRule,
        payload: T.StructType,
        meta_keys=(),
        epoch_timestamp_sql: str = "current_timestamp()",
        local_time_zone: str = "UTC",
        udf_names: frozenset = frozenset(),
        logical_schema=None,
    ):
        self.rule = rule
        self.payload = payload
        self.input_columns = [f.name for f in payload.fields]
        self.meta_keys = tuple(meta_keys)
        self._epoch_ts = epoch_timestamp_sql
        self._tz = local_time_zone
        self._udfs = udf_names
        # TIMESTAMP_TZ (ISO offset string) and TIME (millis int) are not
        # distinguishable from their physical Spark types — the logical
        # CDC schema disambiguates when available
        self._tz_cols: frozenset = frozenset()
        self._time_cols: frozenset = frozenset()
        if logical_schema is not None:
            self._tz_cols = frozenset(
                c.name for c in logical_schema.columns if c.type.root == "TIMESTAMP_TZ"
            )
            self._time_cols = frozenset(
                c.name for c in logical_schema.columns if c.type.root == "TIME"
            )
        self._compile()

    # -- compilation -----------------------------------------------------------
    def _bindings(self, image: str) -> dict:
        b = _meta_bindings(image)
        for c in self.input_columns:
            b[c] = f"{quote(image)}.{quote(c)}"
        for k in self.meta_keys:
            b[k] = f"element_at({quote(ENVELOPE_META)}, {sql_string(k)})"
        return b

    def _compiler(self, image: str, extra_bindings: Optional[dict] = None) -> ExpressionCompiler:
        bindings = self._bindings(image)
        if extra_bindings:
            bindings.update(extra_bindings)
        integral = frozenset(
            f.name
            for f in self.payload.fields
            if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
        )
        decimals = {
            f.name: (f.dataType.precision, f.dataType.scale)
            for f in self.payload.fields
            if isinstance(f.dataType, T.DecimalType)
        }
        ntz = frozenset(
            f.name for f in self.payload.fields
            if isinstance(f.dataType, T.TimestampNTZType)
        )
        ltz = frozenset(
            f.name for f in self.payload.fields
            if isinstance(f.dataType, T.TimestampType)
        )
        rows = {
            f.name: tuple(sf.name for sf in f.dataType.fields)
            for f in self.payload.fields
            if isinstance(f.dataType, T.StructType)
        }
        variant_t = getattr(T, "VariantType", None)
        variants = frozenset(
            f.name for f in self.payload.fields
            if variant_t is not None and isinstance(f.dataType, variant_t)
        )
        arrays = frozenset(
            f.name for f in self.payload.fields
            if isinstance(f.dataType, T.ArrayType)
        )
        ctx = ExpressionContext(
            column_bindings=bindings,
            epoch_timestamp_sql=self._epoch_ts,
            local_time_zone=self._tz,
            udf_names=self._udfs,
            known_columns=frozenset(),  # everything resolves via bindings
            # the reference's transform runtime is 2-valued on comparisons
            # (SystemFunctionUtils: null operands -> FALSE, <> -> TRUE),
            # pinned by specs/comparison.yaml null rows
            strict_nulls=True,
            integral_columns=integral,
            decimal_columns=decimals,
            tz_columns=self._tz_cols,
            time_columns=self._time_cols,
            ltz_columns=ltz,
            ntz_columns=ntz,
            row_columns=rows,
            variant_columns=variants,
            array_columns=arrays,
        )
        return ExpressionCompiler(ctx)

    def _compile(self):
        rule = self.rule
        # ---- projection list ------------------------------------------------
        if rule.projection:
            items = parse_projection(rule.projection)
        else:
            items = [ProjectionColumn("*", ("star",), "*", is_wildcard=True)]

        # expand wildcard: upstream columns in order; an explicit projection of
        # the same name replaces the column at the wildcard position unless it
        # was already emitted before the wildcard (transform.md:301-313 allows
        # both "\*, expr AS c" and "expr AS c, *")
        explicit = {p.output_name: p for p in items if not p.is_wildcard}
        emitted: set = set()
        out_cols: list = []  # list[(name, ast_or_None)]; None => passthrough
        for p in items:
            if p.is_wildcard:
                for c in self.input_columns:
                    if c in emitted:
                        continue
                    if c in explicit:
                        out_cols.append((c, explicit[c].expression_ast))
                    else:
                        out_cols.append((c, None))
                    emitted.add(c)
            elif p.output_name not in emitted:
                out_cols.append((p.output_name, p.expression_ast))
                emitted.add(p.output_name)
        self._out_cols = out_cols
        self.output_columns = [name for name, _ in out_cols]
        if len(set(self.output_columns)) != len(self.output_columns):
            raise CompileError(f"Duplicate output column in projection: {self.output_columns}")

        # per-image compiled SQL for each output column
        self._proj_sql: dict = {}
        for image in ("before", "after"):
            comp = self._compiler(image)
            cols = []
            for name, ast in out_cols:
                if ast is None or ast[0] == "col":
                    src = ast[1] if ast is not None else name
                    if src not in self.input_columns and src not in comp.ctx.column_bindings:
                        raise CompileError(f"Column '{src}' not found in table {rule.source_table}")
                    cols.append((name, comp.ctx.column_bindings.get(src, f"{quote(image)}.{quote(src)}")))
                else:
                    # projection boundary: decimal arithmetic stores with
                    # the reference's declared-type reinterpretation
                    cols.append((name, comp.render_stored(ast)))
            self._proj_sql[image] = cols

        # ---- filter ------------------------------------------------------------
        self._filter_sql: dict = {}
        if rule.filter:
            ast = parse(rule.filter)
            for image in ("before", "after"):
                # computed columns are visible to the filter (transform.md:325-333)
                computed = {name: sql for name, sql in self._proj_sql[image]}
                comp = self._compiler(image, extra_bindings=computed)
                self._filter_sql[image] = comp.render(ast)

    # -- application -------------------------------------------------------------
    def _image_sql(self, image: str) -> str:
        """The projected image: a ``named_struct`` of the compiled
        projection, NULL where the input image is."""
        return (f"CASE WHEN {quote(image)} IS NOT NULL "
                f"THEN {named_struct(self._proj_sql[image])} END")

    def apply(self, df: DataFrame) -> DataFrame:
        """Apply projection + filter + update-splitting to an envelope frame."""
        images = {image: self._image_sql(image) for image in ("before", "after")}
        op = quote(ENVELOPE_OP)
        if not self._filter_sql:
            out = select_envelope(df, images)
        else:
            # the predicate per projected image; null -> false (SQL filter
            # semantics). Each is computed once, as a column, so a
            # nondeterministic filter decides the op and the row alike.
            out = select_envelope(
                df, images,
                f"coalesce({self._filter_sql['before']}, false) AS __kb",
                f"coalesce({self._filter_sql['after']}, false) AS __ka",
            ).where(
                f"CASE WHEN {op} = '{OP_UPDATE}' THEN __kb OR __ka "
                f"WHEN {op} IN ('{OP_INSERT}', '{OP_REPLACE}') THEN __ka "
                f"WHEN {op} = '{OP_DELETE}' THEN __kb ELSE false END"
            )
            # UPDATE splitting (PostTransformOperator.java:314-343), then
            # the images normalized to the (possibly rewritten) op
            is_update = f"{op} = '{OP_UPDATE}'"
            new_op = (
                f"CASE WHEN {is_update} AND __kb AND __ka THEN '{OP_UPDATE}' "
                f"WHEN {is_update} AND __kb AND NOT __ka THEN '{OP_DELETE}' "
                f"WHEN {is_update} AND NOT __kb AND __ka THEN '{OP_INSERT}' "
                f"WHEN NOT {is_update} THEN {op} END"
            )
            out = select_envelope(out, {
                ENVELOPE_OP: new_op,
                "before": f"CASE WHEN ({new_op}) IN ('{OP_INSERT}', '{OP_REPLACE}') "
                          f"THEN NULL ELSE `before` END",
                "after": f"CASE WHEN ({new_op}) = '{OP_DELETE}' THEN NULL ELSE `after` END",
            })

        if self.rule.converter_after_transform == "SOFT_DELETE":
            # DELETE -> INSERT carrying the before image (transform.md:48-61)
            is_del = f"{op} = '{OP_DELETE}'"
            out = select_envelope(out, {
                ENVELOPE_OP: f"CASE WHEN {is_del} THEN '{OP_INSERT}' ELSE {op} END",
                "before": f"CASE WHEN {is_del} THEN NULL ELSE `before` END",
                "after": ROW_IMAGE_SQL,
            })
        return out

    # -- output schema -------------------------------------------------------------
    def _deduce_output_types(self) -> dict:
        """Computed-column types via Catalyst: plan the projection over an
        empty envelope frame and read the analyzed schema (the analog of
        TransformParser.deduceSubExpressionType via Calcite RelNode types,
        runtime/parser/TransformParser.java:753 — Spark's analyzer is the
        type checker here)."""
        from pyspark.sql import SparkSession

        from ..sources.envelope import envelope_schema

        spark = SparkSession.getActiveSession()
        if spark is None:
            return {}
        nullable_payload = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in self.payload.fields]
        )
        try:
            empty = spark.createDataFrame([], envelope_schema(nullable_payload))
            analyzed = empty.selectExpr(
                *[f"{sql} AS {quote(name)}" for name, sql in self._proj_sql["after"]]
            ).schema
            return {f.name: ct.from_spark_type(f.dataType) for f in analyzed.fields}
        except Exception:
            return {}

    def output_schema(self, input_schema: Optional[Schema] = None) -> Schema:
        """Schema of the transformed payload, with reassigned PKs forced
        non-null. Passthrough columns keep the input column definition;
        computed columns get their Catalyst-deduced type."""
        # rule-declared keys win; otherwise the upstream schema's keys pass
        # through (PreTransformOperator.transformSchemaMetaData:363-375 —
        # the corpus' input schema declares NO primary key, so items
        # without a primary-key rule expect primaryKeys empty)
        pks = tuple(self.rule.primary_keys) or (
            tuple(input_schema.primary_keys) if input_schema else ()
        )
        parts = tuple(self.rule.partition_keys) or (
            tuple(input_schema.partition_keys) if input_schema else ()
        )
        # a projection may drop the upstream PK — the sink table is then
        # key-less (specs/temporal.yaml items project no id_ and expect
        # primaryKeys= empty), so only keep keys that survived
        out_names = set(self.output_columns)
        pks = tuple(k for k in pks if k in out_names)
        parts = tuple(k for k in parts if k in out_names)
        from ..core.schema import Column

        deduced = self._deduce_output_types()
        cols = []
        for name, ast in self._out_cols:
            passthrough = ast is None or ast[0] == "col"
            src = (ast[1] if ast is not None else name) if passthrough else None
            if (
                passthrough
                and input_schema is not None
                and input_schema.get_column(src) is not None
            ):
                cols.append(input_schema.get_column(src).with_name(name))
            elif name in deduced:
                cols.append(Column(name, deduced[name]))
            else:
                cols.append(Column(name, ct.string()))
        sch = Schema(
            columns=tuple(cols),
            primary_keys=pks,
            partition_keys=parts,
            options=tuple(self.rule.table_options),
        )
        return sch.ensure_pk_non_null()


def apply_transform(df: DataFrame, rule: TransformRule, **kwargs) -> DataFrame:
    """One-shot helper: compile the rule against df's payload and apply."""
    payload = None
    for f in df.schema.fields:
        if f.name == "after":
            payload = f.dataType
    if payload is None:
        raise ValueError("Input is not a changelog envelope")
    return TransformProcessor(rule, payload, **kwargs).apply(df)

"""AST -> Spark SQL expression compiler.

The Spark analog of the reference's JaninoCompiler
(runtime/parser/JaninoCompiler.java:133-374): where the reference
translates Calcite SqlNodes to compiled Java expressions calling its
runtime function library, we translate to Spark SQL expression strings so
Catalyst + Tungsten codegen execute them JVM-side (no Python in the hot
path). Function mapping per SURVEY.md §2.5; the divergences needing real
translation work:

  * LIKE (no ESCAPE) is Java-regex substring match in the dialect
    (StringFunctions.java:162-164: Pattern.matcher(str).find()) -> RLIKE.
  * LIKE ... ESCAPE is standard SQL LIKE                        -> LIKE/ESCAPE.
  * SIMILAR TO -> anchored RLIKE with the SQL-similar pattern rewritten to a
    Java regex at compile time (literal patterns only).
  * subscript access is 1-based with NULL on out-of-bounds       -> element_at /
    try_element_at / get().
  * SimpleDateFormat patterns -> java.time (datetime_patterns.py).
  * CURRENT_TIMESTAMP / NOW / LOCALTIMESTAMP ... are frozen per batch
    (reference freezes per event via __epoch_time__, JaninoCompiler.java:92);
    the compiler binds them to a literal supplied in the context.
  * metadata columns (__namespace_name__ __schema_name__ __table_name__
    __data_event_type__ + source meta keys) bind to envelope expressions
    supplied in the context.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from ..core import types as ct
from ..core.sql_text import quote as _q, sql_string as _sql_str, sql_type
from .datetime_patterns import translate_simple_date_format
from .parser import ParseError, parse

METADATA_COLUMNS = (
    "__namespace_name__",
    "__schema_name__",
    "__table_name__",
    "__data_event_type__",
)


class CompileError(ValueError):
    pass


# SQL SIMILAR TO pattern -> Java regex (Calcite SqlFunctions.similar analog)
def similar_to_regex(pattern: str, escape: Optional[str] = None) -> str:
    out = []
    i, n = 0, len(pattern)
    esc = escape if escape else None
    while i < n:
        ch = pattern[i]
        if esc and ch == esc and i + 1 < n:
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch in ".^$\\":
            out.append("\\" + ch)
        else:
            # []()|*+?{} are regex-meaningful in SIMILAR TO too - pass through
            out.append(ch)
        i += 1
    return "".join(out)


@dataclass
class ExpressionContext:
    """Per-compilation bindings."""

    # identifier -> SQL expression (metadata columns, envelope access, ...)
    column_bindings: dict = field(default_factory=dict)
    # literal SQL for the frozen evaluation time, e.g. "timestamp'2026-01-01 00:00:00'"
    epoch_timestamp_sql: str = "current_timestamp()"
    # session-local timezone (reference: pipeline local-time-zone)
    local_time_zone: str = "UTC"
    # names of registered user/AI functions that pass through untouched
    udf_names: frozenset = frozenset()
    # column name -> True if integral-typed (drives Java integer-division
    # semantics for `/`); absent names count as non-integral
    integral_columns: frozenset = frozenset()
    # column name -> (precision, scale) for DECIMAL-typed columns; enables
    # the reference's decimal arithmetic semantics (Calcite p<=19 clamp,
    # BigDecimal natural-scale computation, unscaled-long storage
    # reinterpretation — see compile_stored)
    decimal_columns: dict = field(default_factory=dict)
    # physical-kind sets driving the reference's temporal/nested semantics
    # (TransformSpecsITCase corpus): TIMESTAMP_TZ columns are ISO-8601
    # strings with offset, TIME columns are millis-of-day ints,
    # TIMESTAMP_LTZ columns are Spark TimestampType (instants; the session
    # time zone is pinned UTC engine-wide, so NTZ-casting one yields the
    # UTC local datetime), TIMESTAMP columns are TimestampNTZ
    tz_columns: frozenset = frozenset()
    time_columns: frozenset = frozenset()
    ltz_columns: frozenset = frozenset()
    ntz_columns: frozenset = frozenset()
    # column name -> tuple of field names for ROW-typed columns (1-based
    # subscript resolves to a field statically)
    row_columns: dict = field(default_factory=dict)
    # VARIANT-typed columns (subscript compiles to variant_get)
    variant_columns: frozenset = frozenset()
    # ARRAY-typed columns (subscript index 0 is NULL in the dialect;
    # Spark's try_element_at raises on it)
    array_columns: frozenset = frozenset()
    # available physical columns; None disables the existence check
    known_columns: Optional[frozenset] = None
    # strict reference null semantics for bare comparisons (null -> FALSE)
    strict_nulls: bool = False


# Spark type names for CAST targets (dialect names incl. BYTE/SHORT/LONG)
def _cast_type_sql(type_text: str) -> str:
    return sql_type(ct.to_spark_type(ct.parse_type(type_text)))


class ExpressionCompiler:
    """Compile dialect expression strings to Spark SQL expression strings."""

    def __init__(self, context: Optional[ExpressionContext] = None):
        self.ctx = context or ExpressionContext()

    # -- public ----------------------------------------------------------------
    def compile(self, text: str) -> str:
        ast = parse(text)
        return self.render(ast)

    # -- rendering ----------------------------------------------------------------
    def render(self, node) -> str:
        kind = node[0]
        fn = getattr(self, f"_r_{kind}", None)
        if fn is None:
            raise CompileError(f"Unknown AST node {kind}")
        return fn(node)

    def _r_lit_num(self, node) -> str:
        text = node[1]
        if "." not in text and "e" not in text.lower():
            # dialect integer literals are INT/BIGINT; Spark defaults match
            return text
        # reference decimal literals are exact decimals (Calcite), Spark
        # fractional literals default to DECIMAL too when parsing SQL text
        return text

    def _r_lit_str(self, node) -> str:
        return _sql_str(node[1])

    def _r_lit_bool(self, node) -> str:
        return "true" if node[1] else "false"

    def _r_lit_null(self, node) -> str:
        return "null"

    def _r_star(self, node) -> str:
        raise CompileError("* is only valid at the top of a projection, not inside expressions")

    def _r_col(self, node) -> str:
        name = node[1]
        if name in self.ctx.column_bindings:
            return self.ctx.column_bindings[name]
        lowered = name.lower()
        if lowered in ("current_date", "current_time", "current_timestamp",
                       "localtime", "localtimestamp", "now"):
            return self._frozen_time(lowered.upper())
        if name.startswith("__") and name.endswith("__"):
            raise CompileError(f"Unknown metadata column {name!r}")
        if self.ctx.known_columns is not None and name not in self.ctx.known_columns:
            raise CompileError(f"Column '{name}' not found in source table or projection")
        return _q(name)

    def _r_neg(self, node) -> str:
        return f"(- {self.render(node[1])})"

    def _r_not(self, node) -> str:
        return f"(NOT {self.render(node[1])})"

    def _r_and(self, node) -> str:
        return f"({self.render(node[1])} AND {self.render(node[2])})"

    def _r_or(self, node) -> str:
        return f"({self.render(node[1])} OR {self.render(node[2])})"

    def _null_str(self, sql: str) -> str:
        """The reference's concat renders NULL operands as the string
        'null' (SystemFunctionUtils.concat uses Objects.toString; pinned
        by specs/string.yaml 'String Concat Operator': '<<'||null ->
        '<<null>>')."""
        return f"coalesce(cast({sql} AS string), 'null')"

    def _is_integral(self, node) -> bool:
        """Light static type check: is this expression integral-typed?
        Drives Java division semantics (int/int -> truncating int div,
        specs/arithmetic.yaml 'Divide Op': 3/2 == 1, -5/2 == -2)."""
        kind = node[0]
        if kind == "lit_num":
            t = node[1].lower()
            return "." not in t and "e" not in t
        if kind == "col":
            return node[1] in self.ctx.integral_columns
        if kind == "neg":
            return self._is_integral(node[1])
        if kind == "binop" and node[1] in ("+", "-", "*", "%", "/"):
            # '/' over integral operands is itself integral under Java
            # semantics (7/2/2 == 1, int div applied at each level)
            return self._is_integral(node[2]) and self._is_integral(node[3])
        if kind == "cast":
            try:
                return ct.parse_type(node[2]).root in (
                    "TINYINT", "SMALLINT", "INT", "BIGINT"
                )
            except Exception:
                return False
        return False

    # -- dialect decimal arithmetic ------------------------------------------
    # The reference derives expression types through Calcite (max numeric
    # precision 19 — values are long-backed DecimalData), computes values as
    # Java BigDecimals at their natural scale (ArithmeticFunctions.java:
    # divide uses RoundingMode.DOWN at the lhs scale, round is HALF_UP), and
    # stores results into the declared column type by REINTERPRETING the
    # unscaled long at the declared scale (BinaryRecordData.getDecimal +
    # AbstractBinaryWriter.writeDecimal for compact p<=18 — no overflow
    # check), while p=19 results round-trip DecimalDataSerializer ->
    # DecimalData.fromBigDecimal, which nulls when digits exceed the
    # precision. All pinned by specs/decimal.yaml (e.g. ROUND(DECIMAL(10,0)
    # col, 1) keeps an 11-digit value ×10, and DECIMAL(20,2)+1 is NULL).

    _DEC_MAX = 19

    def _calcite_decimal(self, node):
        """Declared Calcite DECIMAL (precision, scale) of a node under the
        dialect schema, or None when the node is not statically
        decimal-typed. Operand column types are clamped to p<=19 the way
        Calcite's type factory clamps them."""
        kind = node[0]
        if kind == "col":
            t = self.ctx.decimal_columns.get(node[1])
            if t is None:
                return None
            return (min(int(t[0]), self._DEC_MAX), int(t[1]))
        if kind == "lit_num":
            txt = node[1].lower()
            if "e" in txt:
                return None
            digits = txt.lstrip("-").replace(".", "").lstrip("0") or "0"
            scale = len(txt.split(".")[1]) if "." in txt else 0
            return (max(len(digits), 1), scale)
        if kind == "neg":
            return self._calcite_decimal(node[1])
        if kind == "cast":
            try:
                dt = ct.parse_type(node[2])
            except Exception:
                return None
            if dt.root == "DECIMAL":
                return (min(dt.precision, self._DEC_MAX), dt.scale)
            return None
        if kind == "binop" and node[1] in ("+", "-", "*", "/"):
            lt = self._calcite_decimal(node[2])
            rt = self._calcite_decimal(node[3])
            if lt is None or rt is None:
                return None
            return self._derive_decimal(node[1], lt, rt)
        if kind == "call":
            name, args = node[1], node[2]
            if name == "ABS" and len(args) == 1:
                return self._calcite_decimal(args[0])
            if name in ("CEIL", "CEILING", "FLOOR") and len(args) == 1:
                t = self._calcite_decimal(args[0])
                return None if t is None else (t[0], 0)
            if name == "ROUND" and len(args) == 2 and args[1][0] == "lit_num":
                t = self._calcite_decimal(args[0])
                if t is None:
                    return None
                p, s = t
                r = int(args[1][1])
                # LogicalTypeMerging.findRoundDecimalType
                if r >= s:
                    return (p, s)
                return (min(p - s + r + 1, self._DEC_MAX), r)
        return None

    def _derive_decimal(self, op, lt, rt):
        """Calcite decimal binary type derivation with the 19-precision
        clamp (scale is reduced on divide when the precision clamps, per
        the declared types in specs/decimal.yaml)."""
        (p1, s1), (p2, s2) = lt, rt
        if op in ("+", "-"):
            s = max(s1, s2)
            p = max(p1 - s1, p2 - s2) + s + 1
            return (min(p, self._DEC_MAX), s)
        if op == "*":
            return (min(p1 + p2, self._DEC_MAX), s1 + s2)
        # divide
        int_digits = p1 - s1 + s2
        s = max(6, s1 + p2 + 1)
        p = int_digits + s
        if p > self._DEC_MAX:
            p = self._DEC_MAX
            s = max(self._DEC_MAX - int_digits, 0)
        return (p, s)

    def _java_scale(self, node):
        """Natural scale of the Java BigDecimal the reference computes for
        this node (ArithmeticFunctions semantics), or None if unknown."""
        kind = node[0]
        if kind == "col":
            t = self.ctx.decimal_columns.get(node[1])
            return None if t is None else int(t[1])
        if kind == "lit_num":
            txt = node[1].lower()
            if "e" in txt:
                return None
            return len(txt.split(".")[1]) if "." in txt else 0
        if kind == "neg":
            return self._java_scale(node[1])
        if kind == "cast":
            try:
                dt = ct.parse_type(node[2])
            except Exception:
                return None
            return dt.scale if dt.root == "DECIMAL" else None
        if kind == "binop":
            sl, sr = self._java_scale(node[2]), self._java_scale(node[3])
            if sl is None or sr is None:
                return None
            if node[1] in ("+", "-"):
                return max(sl, sr)
            if node[1] == "*":
                return sl + sr
            if node[1] == "/":
                # BigDecimal.divide(rhs, RoundingMode.DOWN) keeps lhs scale
                return sl
            return None
        if kind == "call":
            name, args = node[1], node[2]
            if name == "ABS" and len(args) == 1:
                return self._java_scale(args[0])
            if name in ("CEIL", "CEILING", "FLOOR") and len(args) == 1:
                return 0 if self._java_scale(args[0]) is not None else None
            if name == "ROUND" and len(args) == 2 and args[1][0] == "lit_num":
                # setScale(r, HALF_UP): natural scale is r even when r > s
                return int(args[1][1]) if self._java_scale(args[0]) is not None else None
        return None

    def _decimal_applies(self, node) -> bool:
        """Both operands statically decimal AND at least one side is a real
        decimal (column / cast / fractional literal) — pure-integer
        expressions keep Java int semantics."""
        if self._is_integral(node[2]) and self._is_integral(node[3]):
            return False
        return (
            self._calcite_decimal(node) is not None
            and self._java_scale(node) is not None
        )

    @staticmethod
    def _frac_lit(scale: int) -> str:
        """Exact 10^-scale as a decimal literal (typed DECIMAL(scale+1, scale))."""
        return "0." + "0" * (scale - 1) + "1"

    def _unscaled_sql(self, node) -> Optional[str]:
        """Spark SQL for the exact unscaled integer of the node's Java
        BigDecimal value (value * 10^java_scale), as DECIMAL(38,0)/BIGINT."""
        s_j = self._java_scale(node)
        if s_j is None:
            return None
        if node[0] == "binop" and node[1] == "/":
            # Java: lhs.divide(rhs, DOWN) at lhs scale -> truncate toward
            # zero of (lhs * 10^s1 / rhs). Spark's `div` would be exact but
            # returns BIGINT and WRAPS past 2^63 (20-digit unscaled values
            # are real here) — compute in decimals: sign-split floor of the
            # absolute quotient. Spark's decimal division carries >= 6
            # fractional guard digits, so the floor is exact except for
            # quotients within 5e-7 of an integer boundary.
            ls, rs = self.render(node[2]), self.render(node[3])
            pow_l = 10 ** s_j
            num = f"({ls} * {pow_l})" if s_j else f"({ls})"
            q = f"floor(abs({num}) / abs({rs}))"
            return (
                f"(CASE WHEN (({ls}) < 0) != (({rs}) < 0) "
                f"THEN CAST(-{q} AS DECIMAL(38, 0)) "
                f"ELSE CAST({q} AS DECIMAL(38, 0)) END)"
            )
        body = self.render(node)
        if s_j == 0:
            return f"CAST({body} AS DECIMAL(38, 0))"
        return f"CAST({body} * {10 ** s_j} AS DECIMAL(38, 0))"

    def _stored_decimal_sql(self, node) -> Optional[str]:
        """Render a decimal expression the way the reference STORES it:
        unscaled value reinterpreted at the declared Calcite scale; for
        p=19 (non-compact) NULL when the digits exceed the precision."""
        declared = self._calcite_decimal(node)
        u = self._unscaled_sql(node)
        if declared is None or u is None:
            return None
        p_d, s_d = declared
        if s_d > 0:
            value = f"CAST({u} * {self._frac_lit(s_d)} AS DECIMAL(38, {s_d}))"
        else:
            value = f"CAST({u} AS DECIMAL(38, 0))"
        if p_d > 18:
            # DecimalDataSerializer round-trip -> fromBigDecimal precision
            # check: digits(unscaled) > p -> NULL
            return f"(CASE WHEN abs({u}) >= {10 ** p_d} THEN NULL ELSE {value} END)"
        return value

    def compile_stored(self, text: str) -> str:
        """Compile a projection expression applying the reference's
        storage-boundary semantics for decimal results. Non-decimal (or
        statically untypeable) expressions compile exactly as compile()."""
        return self.render_stored(parse(text))

    def render_stored(self, ast) -> str:
        """render() plus the decimal storage-boundary reinterpretation for
        top-level decimal arithmetic (see _stored_decimal_sql)."""
        if ast[0] == "binop" and ast[1] in ("+", "-", "*", "/"):
            if self._decimal_applies(ast):
                out = self._stored_decimal_sql(ast)
                if out is not None:
                    return out
        elif ast[0] in ("neg",) or (
            ast[0] == "call" and ast[1] in ("ABS", "CEIL", "CEILING", "FLOOR", "ROUND")
        ):
            if (
                self._calcite_decimal(ast) is not None
                and self._java_scale(ast) is not None
            ):
                out = self._stored_decimal_sql(ast)
                if out is not None:
                    return out
        return self.render(ast)

    # -- dialect temporal kinds ----------------------------------------------
    def _temporal_kind(self, node) -> Optional[str]:
        """'tz' | 'ltz' | 'ntz' | 'time' for column references of the
        special temporal kinds, else None."""
        if node[0] != "col":
            return None
        name = node[1]
        if name in self.ctx.tz_columns:
            return "tz"
        if name in self.ctx.ltz_columns:
            return "ltz"
        if name in self.ctx.ntz_columns:
            return "ntz"
        if name in self.ctx.time_columns:
            return "time"
        return None

    def _ltz_local(self, sql: str, tz: Optional[str] = None) -> str:
        """UTC-instant TimestampType -> naive local datetime in tz
        (defaults to the pipeline's local time zone). Relies on the
        engine-wide session timeZone=UTC pin for the NTZ cast."""
        zone = tz if tz is not None else _sql_str(self.ctx.local_time_zone)
        return f"convert_timezone('UTC', {zone}, CAST({sql} AS TIMESTAMP_NTZ))"

    def _time_as_ntz(self, sql: str) -> str:
        """millis-of-day int -> TimestampNTZ on the epoch day (lets
        date_format patterns apply to TIME columns)."""
        return (
            f"timestampadd(MILLISECOND, {sql}, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00')"
        )

    _ISO_T = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

    def _r_binop(self, node) -> str:
        _, op, l, r = node
        if op == "/" and self._is_integral(l) and self._is_integral(r):
            # Java integer division truncates toward zero; Spark's `/` is
            # always fractional, `div` matches Java exactly
            return f"({self.render(l)} div {self.render(r)})"
        if op == "/" and self._decimal_applies(node):
            # inner decimal division: Java value semantics (truncated at
            # the lhs scale) WITHOUT the storage reinterpretation — that
            # applies only at the projection boundary (compile_stored)
            u = self._unscaled_sql(node)
            s_j = self._java_scale(node)
            if u is not None and s_j is not None:
                if s_j == 0:
                    return f"CAST({u} AS DECIMAL(38, 0))"
                return f"CAST({u} * {self._frac_lit(s_j)} AS DECIMAL(38, {s_j}))"
        ls, rs = self.render(l), self.render(r)
        if op == "||":
            return f"concat({self._null_str(ls)}, {self._null_str(rs)})"
        if op in ("=", ">", ">=", "<", "<=") and self.ctx.strict_nulls:
            # reference ComparisonFunctions: null operands -> FALSE, not NULL
            return f"ifnull(({ls} {op} {rs}), false)"
        if op == "<>" and self.ctx.strict_nulls:
            # notEquals = !equals, so null operands -> TRUE
            return f"(NOT ifnull(({ls} = {rs}), false))"
        return f"({ls} {op} {rs})"

    def _r_is(self, node) -> str:
        _, e, what, negated = node
        es = self.render(e)
        if what == "NULL" or what == "UNKNOWN":
            return f"({es} IS {'NOT ' if negated else ''}NULL)"
        if what == "TRUE":
            return f"({es} IS {'NOT ' if negated else ''}TRUE)"
        if what == "FALSE":
            return f"({es} IS {'NOT ' if negated else ''}FALSE)"
        raise CompileError(f"Unknown IS predicate {what}")

    def _r_is_distinct(self, node) -> str:
        _, l, r, negated = node
        ls, rs = self.render(l), self.render(r)
        if negated:  # IS NOT DISTINCT FROM = null-safe equal
            return f"({ls} <=> {rs})"
        return f"(NOT ({ls} <=> {rs}))"

    def _r_between(self, node) -> str:
        _, e, lo, hi, negated = node
        es, los, his = self.render(e), self.render(lo), self.render(hi)
        core = f"({es} BETWEEN {los} AND {his})"
        if self.ctx.strict_nulls:
            core = f"ifnull({core}, false)"
        return f"(NOT {core})" if negated else core

    def _r_like(self, node) -> str:
        _, e, pat, esc, negated = node
        es = self.render(e)
        if esc is None:
            # dialect LIKE = Java-regex substring match (find())
            core = f"({es} RLIKE {self.render(pat)})"
        elif esc[0] != "lit_str":
            # a non-literal escape is NULL-valued at best (Calcite requires
            # a literal): the whole predicate is NULL (specs/comparison.yaml)
            return "CAST(NULL AS BOOLEAN)"
        else:
            core = f"({es} LIKE {self.render(pat)} ESCAPE {self.render(esc)})"
        return f"(NOT {core})" if negated else core

    def _r_similar(self, node) -> str:
        _, e, pat, esc, negated = node
        if pat[0] != "lit_str":
            if pat[0] == "cast" or pat[0] == "lit_null":
                return "CAST(NULL AS BOOLEAN)"  # NULL pattern -> NULL
            raise CompileError("SIMILAR TO requires a literal pattern")
        esc_ch = None
        if esc is not None:
            if esc[0] != "lit_str":
                return "CAST(NULL AS BOOLEAN)"  # NULL escape -> NULL
            esc_ch = esc[1]
        regex = "^(?:" + similar_to_regex(pat[1], esc_ch) + ")$"
        core = f"({self.render(e)} RLIKE {_sql_str(regex)})"
        return f"(NOT {core})" if negated else core

    def _r_in(self, node) -> str:
        _, e, items, negated = node
        es = self.render(e)
        inner = ", ".join(self.render(it) for it in items)
        core = f"({es} IN ({inner}))"
        if self.ctx.strict_nulls:
            core = f"ifnull({core}, false)"
        return f"(NOT {core})" if negated else core

    def _r_case_when(self, node) -> str:
        _, whens, else_e = node
        parts = ["CASE"]
        for cond, res in whens:
            parts.append(f"WHEN {self.render(cond)} THEN {self.render(res)}")
        if else_e is not None:
            parts.append(f"ELSE {self.render(else_e)}")
        parts.append("END")
        return "(" + " ".join(parts) + ")"

    def _r_case_value(self, node) -> str:
        _, value, whens, else_e = node
        vs = self.render(value)
        if any(len(vals) > 1 for vals, _ in whens):
            # multi-value WHEN (CASE v WHEN a, b THEN ...) lowers to searched form
            parts = ["CASE"]
            for vals, res in whens:
                cond = " OR ".join(f"{vs} = {self.render(v)}" for v in vals)
                parts.append(f"WHEN ({cond}) THEN {self.render(res)}")
            if else_e is not None:
                parts.append(f"ELSE {self.render(else_e)}")
            parts.append("END")
            return "(" + " ".join(parts) + ")"
        parts = [f"CASE {vs}"]
        for vals, res in whens:
            parts.append(f"WHEN {self.render(vals[0])} THEN {self.render(res)}")
        if else_e is not None:
            parts.append(f"ELSE {self.render(else_e)}")
        parts.append("END")
        return "(" + " ".join(parts) + ")"

    def _r_raw(self, node) -> str:
        return f"({node[1]})"

    def _r_cast(self, node) -> str:
        """Reference casts are lenient (SystemFunctionUtils.castTo*,
        pinned by specs/casting.yaml): unparseable strings -> NULL
        (BOOLEAN: FALSE), fractional strings truncate toward zero for
        integral targets ('2.22' -> 2). Spark 4's ANSI CAST raises
        instead, so compile to try_cast with the two special paths."""
        _, e, type_text = node
        es = self.render(e)
        t = _cast_type_sql(type_text)
        kind = self._temporal_kind(e)
        if kind is not None:
            if t.startswith("timestamp"):
                # castToTimestamp: TZ strings carry their offset (parse to
                # instant), LTZ are instants — both land in the pipeline's
                # local time zone; NTZ is zone-less and passes through
                # (specs/casting.yaml 'Cast To Timestamp (Asia/Shanghai)')
                if kind == "tz":
                    return self._ltz_local(f"CAST({es} AS TIMESTAMP)")
                if kind == "ltz":
                    return self._ltz_local(es)
                if kind == "time":
                    return self._time_as_ntz(es)
                return es
            if t == "string":
                # castToString renders java.time toString: ISO with 'T'
                if kind == "tz":
                    return es  # already the ISO-8601 offset string
                if kind == "ltz":
                    return (
                        f"date_format(CAST({es} AS TIMESTAMP_NTZ), "
                        f"{_sql_str(self._ISO_T)})"
                    )
                if kind == "ntz":
                    return f"date_format({es}, {_sql_str(self._ISO_T)})"
                if kind == "time":
                    return f"date_format({self._time_as_ntz(es)}, 'HH:mm:ss')"
            if t == "date":
                if kind == "tz":
                    return f"to_date(substring({es}, 1, 10))"
                if kind == "ltz":
                    return f"to_date(CAST({es} AS TIMESTAMP_NTZ))"
        if t == "boolean":
            return (
                f"(CASE WHEN {es} IS NULL THEN CAST(NULL AS BOOLEAN) "
                f"WHEN try_cast({es} AS boolean) IS NOT NULL THEN try_cast({es} AS boolean) "
                f"WHEN try_cast({es} AS double) IS NOT NULL THEN (try_cast({es} AS double) <> 0.0) "
                f"ELSE false END)"
            )
        if t in ("tinyint", "smallint", "int"):
            # Java primitive narrowing WRAPS on overflow ((byte) 333 == 77,
            # specs/casting.yaml); compute in bigint and take the low bits
            # two's-complement
            bits = {"tinyint": 8, "smallint": 16, "int": 32}[t]
            mask, half = 1 << bits, 1 << (bits - 1)
            base = (
                f"coalesce(try_cast({es} AS bigint), "
                f"try_cast(try_cast({es} AS double) AS bigint))"
            )
            return (
                f"cast(((({base}) % {mask}) + {mask + half}) % {mask} - {half} AS {t})"
            )
        if t == "bigint":
            return (
                f"coalesce(try_cast({es} AS bigint), "
                f"try_cast(try_cast({es} AS double) AS bigint))"
            )
        if t.startswith("timestamp") or t == "date":
            # temporal casts DO raise on unparseable input in the reference
            # (specs/casting.yaml 'Cast To Timestamp Failure' expects error)
            return f"CAST({es} AS {t})"
        return f"try_cast({es} AS {t})"

    def _r_subscript(self, node) -> str:
        _, e, idx = node
        # 1-based, NULL out-of-bounds (doc transform.md:268-279).
        # element_at is 1-based for arrays and key-lookup for maps; Spark's
        # strict mode errors on OOB, try_element_at returns NULL - use it.
        # VARIANT operands (VariantAwareItemOperator.java:113) need
        # variant_get with a JSON path: detectable statically when the
        # operand is a PARSE_JSON / TRY_PARSE_JSON call.
        def is_variant(x) -> bool:
            return (
                (x[0] == "call" and x[1] in ("PARSE_JSON", "TRY_PARSE_JSON"))
                or (x[0] == "col" and x[1] in self.ctx.variant_columns)
                or (x[0] == "subscript" and is_variant(x[1]))
            )

        if is_variant(e):
            if idx[0] == "lit_str":
                return f"variant_get({self.render(e)}, '$.{idx[1]}')"
            if idx[0] == "lit_num":
                # 1-based variant array access -> 0-based JSON path
                return f"variant_get({self.render(e)}, '$[{int(idx[1]) - 1}]')"
        if e[0] == "col" and e[1] in self.ctx.row_columns:
            # ROW subscripting resolves to a field STATICALLY — the
            # reference refuses non-literal / out-of-range indices at
            # plan time (specs/nested.yaml 'Record Subscripting With
            # Invalid Index' / 'Computed Index')
            fields_ = self.ctx.row_columns[e[1]]
            pos = int(idx[1]) if idx[0] == "lit_num" else None
            if pos is None or not (1 <= pos <= len(fields_)):
                raise CompileError(
                    f"Cannot infer type of field at position {pos} within "
                    f"ROW type: {fields_}"
                )
            return f"{self.render(e)}.{_q(fields_[pos - 1])}"
        if e[0] == "col" and e[1] in self.ctx.array_columns:
            # 1-based with NULL on ANY out-of-bounds index including 0
            # (specs/nested.yaml 'Array OOB Subscripting'); Spark's
            # try_element_at still raises on index 0
            es, idxs = self.render(e), self.render(idx)
            return f"if(({idxs}) = 0, NULL, try_element_at({es}, {idxs}))"
        return f"try_element_at({self.render(e)}, {self.render(idx)})"

    # -- function calls ----------------------------------------------------------
    def _frozen_time(self, name: str) -> str:
        ts = self.ctx.epoch_timestamp_sql
        if name in ("CURRENT_TIMESTAMP", "NOW", "LOCALTIMESTAMP"):
            return f"({ts})"
        if name == "CURRENT_DATE":
            return f"CAST({ts} AS DATE)"
        if name in ("CURRENT_TIME", "LOCALTIME"):
            # TIME maps to millis-of-day int
            return f"(CAST(date_format({ts}, 'HH') AS INT) * 3600000 + CAST(date_format({ts}, 'mm') AS INT) * 60000 + CAST(date_format({ts}, 'ss') AS INT) * 1000)"
        raise CompileError(f"Unknown time function {name}")

    def _fmt_arg(self, arg) -> str:
        """Translate a (literal) SimpleDateFormat pattern argument."""
        if arg[0] == "lit_str":
            return _sql_str(translate_simple_date_format(arg[1]))
        return self.render(arg)

    def _r_call(self, node) -> str:
        _, name, args = node
        n = len(args)

        # interval-unit first arguments are identifiers, not columns —
        # handle before eagerly rendering args
        if name in ("TIMESTAMPADD", "TIMESTAMP_ADD", "TIMESTAMPDIFF", "TIMESTAMP_DIFF"):
            if n != 3:
                raise CompileError(f"{name}(unit, a, b) needs 3 arguments")
            unit_node = args[0]
            unit = unit_node[1] if unit_node[0] in ("col", "lit_str") else None
            if unit is None:
                raise CompileError(f"{name} unit must be an identifier")
            if name in ("TIMESTAMPADD", "TIMESTAMP_ADD"):
                # the reference's TIMESTAMPADD computes in epoch millis and
                # returns a precision-3 TimestampData — sub-millisecond
                # digits are dropped (specs/regression.yaml FLINK-39682
                # expects .789, not .789123)
                return (
                    f"date_trunc('MILLISECOND', timestampadd({unit.upper()}, "
                    f"{self.render(args[1])}, {self.render(args[2])}))"
                )
            return (
                f"timestampdiff({unit.upper()}, {self.render(args[1])}, "
                f"{self.render(args[2])})"
            )

        rendered = [self.render(x) for x in args]

        if name in self.ctx.udf_names:
            return f"{name.lower()}({', '.join(rendered)})"

        # --- arithmetic ---
        if name in ("ABS", "CEIL", "CEILING", "FLOOR", "ROUND"):
            f = {"CEILING": "ceil"}.get(name, name.lower())
            return f"{f}({', '.join(rendered)})"
        if name == "UUID":
            return "uuid()"

        # --- conditional ---
        if name == "COALESCE":
            return f"coalesce({', '.join(rendered)})"
        if name == "IF":
            if n != 3:
                raise CompileError("IF takes exactly 3 arguments")
            return f"if({rendered[0]}, {rendered[1]}, {rendered[2]})"

        # --- string ---
        simple_string = {
            "CONCAT": "concat",
            "CONCAT_WS": "concat_ws",
            "CHAR_LENGTH": "char_length",
            "UPPER": "upper",
            "LOWER": "lower",
            "TRIM": "trim",
            "LTRIM": "ltrim",
            "RTRIM": "rtrim",
            "BTRIM": "btrim",
            "REGEXP_REPLACE": "regexp_replace",
            "REGEXP_EXTRACT": "regexp_extract",
            "REGEXP_EXTRACT_ALL": "regexp_extract_all",
            "REGEXP_COUNT": "regexp_count",
            "REGEXP_INSTR": "regexp_instr",
            "REGEXP_SUBSTR": "regexp_substr",
            "SUBSTR": "substr",
            "SUBSTRING": "substring",
            "OVERLAY": "overlay",
            "LOCATE": "locate",
            "INSTR": "instr",
            "LPAD": "lpad",
            "RPAD": "rpad",
            "REPLACE": "replace",
            "REPEAT": "repeat",
            "LEFT": "left",
            "RIGHT": "right",
            "STARTSWITH": "startswith",
            "ENDSWITH": "endswith",
        }
        if name in simple_string:
            if name in ("SUBSTRING", "SUBSTR") and n == 3:
                # the reference raises on a negative length
                # (StringFunctions substring precondition, pinned by
                # specs/string.yaml 'Substring with Index OOB'); Spark's
                # substring is total — guard with raise_error
                larg = args[2]
                nonneg_literal = larg[0] == "lit_num"
                if not nonneg_literal:
                    msg = _sql_str(
                        "length of 'substring(str, beginIndex, length)' "
                        "must be >= 0 and Int type, but length = "
                    )
                    return (
                        f"(CASE WHEN ({rendered[2]}) < 0 THEN "
                        f"CAST(raise_error(concat({msg}, "
                        f"CAST({rendered[2]} AS STRING))) AS STRING) "
                        f"ELSE substring({rendered[0]}, {rendered[1]}, {rendered[2]}) END)"
                    )
            if name == "REGEXP_EXTRACT" and n == 2:
                # dialect default group = 0 (whole match); Spark default is 1
                return f"regexp_extract({rendered[0]}, {rendered[1]}, 0)"
            if name == "CONCAT":
                # null operands stringify as 'null' (see _null_str)
                return f"concat({', '.join(self._null_str(r) for r in rendered)})"
            if name in ("LTRIM", "RTRIM") and n == 2:
                # dialect arg order is (str, trimChars); express via the
                # SQL TRIM spec so the order is unambiguous
                spec = "LEADING" if name == "LTRIM" else "TRAILING"
                return f"trim({spec} {rendered[1]} FROM {rendered[0]})"
            return f"{simple_string[name]}({', '.join(rendered)})"
        if name == "POSITION":
            return f"position({', '.join(rendered)})"
        if name == "TRIM_SPEC":
            spec = args[0][1]
            chars, target = rendered[1], rendered[2]
            f = {"BOTH": "trim", "LEADING": "ltrim", "TRAILING": "rtrim"}[spec]
            if args[1][0] == "lit_str" and args[1][1] == " ":
                return f"{f}({target})"
            return f"{f}({chars}, {target})" if f != "trim" else f"btrim({target}, {chars})"
        if name == "TO_BASE64":
            return f"base64({rendered[0]})"
        if name == "FROM_BASE64":
            return f"decode(unbase64({rendered[0]}), 'UTF-8')"
        if name == "FROM_BASE64_BINARY":
            return f"unbase64({rendered[0]})"

        # --- temporal ---
        if name in ("LOCALTIME", "LOCALTIMESTAMP", "CURRENT_TIME", "CURRENT_DATE",
                    "CURRENT_TIMESTAMP", "NOW"):
            return self._frozen_time(name)
        if name == "DATE_FORMAT":
            if n < 2:
                raise CompileError("DATE_FORMAT(ts, fmt) needs 2 arguments")
            kind = self._temporal_kind(args[0])
            target = rendered[0]
            if kind == "ltz":
                # LTZ instants format in the pipeline's local time zone
                # (specs/temporal.yaml 'Date Format Function (Asia/Shanghai)')
                target = self._ltz_local(target)
            elif kind == "time":
                target = self._time_as_ntz(target)
            return f"date_format({target}, {self._fmt_arg(args[1])})"
        if name == "DATE_FORMAT_TZ":
            # DATE_FORMAT_TZ(ts[, fmt], tz): a TIMESTAMP (no zone) formats
            # identically in every zone (specs/temporal.yaml 'Formatting
            # TIMESTAMP(0) with Timezone'); LTZ instants convert to the
            # given zone
            if n not in (2, 3):
                raise CompileError("DATE_FORMAT_TZ(ts[, fmt], tz) needs 2-3 arguments")
            target = rendered[0]
            if self._temporal_kind(args[0]) == "ltz":
                target = self._ltz_local(target, tz=rendered[-1])
            if n == 2:
                return f"date_format({target}, 'yyyy-MM-dd HH:mm:ss')"
            return f"date_format({target}, {self._fmt_arg(args[1])})"
        if name == "TO_DATE":
            # strict-format parse, lenient failure: TO_DATE('1970-01-01
            # 00:00:05') is NULL — the whole string must match the pattern
            # (default yyyy-MM-dd); unparseable -> NULL, never an error
            # (specs/temporal.yaml, specs/regression.yaml)
            arg0 = args[0]
            timestampish = (
                (
                    arg0[0] == "call"
                    and arg0[1]
                    in ("TO_TIMESTAMP", "TO_TIMESTAMP_LTZ", "TIMESTAMPADD", "TIMESTAMP_ADD")
                )
                or (arg0[0] == "cast" and "TIMESTAMP" in str(arg0[2]).upper())
                or self._temporal_kind(arg0) in ("ntz", "ltz")
            )
            if self._temporal_kind(arg0) == "tz" and n == 1:
                # TO_DATE of a zoned timestamp takes the date of ITS OWN
                # local part (FLINK-39682 regression corpus)
                return f"to_date(substring({rendered[0]}, 1, 10))"
            if timestampish and n == 1:
                return f"to_date({rendered[0]})"
            fmt = self._fmt_arg(args[1]) if n >= 2 else "'yyyy-MM-dd'"
            return f"to_date(try_to_timestamp({rendered[0]}, {fmt}))"
        if name == "TO_TIMESTAMP":
            if n == 1:
                return f"to_timestamp_ntz({rendered[0]})"
            return f"to_timestamp_ntz({rendered[0]}, {self._fmt_arg(args[1])})"
        if name == "TO_TIMESTAMP_LTZ":
            # epoch form: TO_TIMESTAMP_LTZ(numeric[, precision 0|3|6]),
            # default precision 3 (millis); string form parses, with an
            # optional source timezone (specs/temporal.yaml)
            arg0 = args[0]
            stringish = arg0[0] == "lit_str" or (
                n >= 2 and args[1][0] == "lit_str"
            )
            if not stringish:
                p = int(args[1][1]) if n >= 2 and args[1][0] == "lit_num" else 3
                fn_by_p = {0: "timestamp_seconds", 3: "timestamp_millis",
                           6: "timestamp_micros"}
                f = fn_by_p.get(p)
                if f is None:
                    raise CompileError("TO_TIMESTAMP_LTZ precision must be 0, 3 or 6")
                return f"{f}({rendered[0]})"
            base = (
                f"try_to_timestamp({rendered[0]})"
                if n == 1
                else f"try_to_timestamp({rendered[0]}, {self._fmt_arg(args[1])})"
            )
            if n == 3:
                return f"to_utc_timestamp({base}, {rendered[2]})"
            return base
        if name == "FROM_UNIXTIME":
            if n == 1:
                return f"from_unixtime({rendered[0]})"
            return f"from_unixtime({rendered[0]}, {self._fmt_arg(args[1])})"
        if name == "UNIX_TIMESTAMP":
            if n == 0:
                return f"unix_timestamp({self.ctx.epoch_timestamp_sql})"
            if n == 1:
                return f"unix_timestamp({rendered[0]})"
            return f"unix_timestamp({rendered[0]}, {self._fmt_arg(args[1])})"
        if name == "DATE_ADD":
            return f"date_add({rendered[0]}, {rendered[1]})"

        # --- variant ---
        if name in ("PARSE_JSON", "TRY_PARSE_JSON"):
            # the dialect accepts any operand type (numbers parse as JSON
            # scalars); Spark's parse_json requires STRING. Spark matches
            # the reference's duplicate-key behavior natively (parse_json
            # raises, try_parse_json -> NULL). The 2-arg allowDuplicateKeys
            # form keeps the LAST value — for literal inputs we dedup at
            # compile time (json.loads keeps the last key).
            f = "parse_json" if name == "PARSE_JSON" else "try_parse_json"
            if (
                n == 2
                and args[1][0] == "lit_bool"
                and args[1][1]
                and args[0][0] == "lit_str"
            ):
                import json as _json

                try:
                    deduped = _json.dumps(
                        _json.loads(args[0][1]), ensure_ascii=False,
                        separators=(",", ":"),
                    )
                except ValueError:
                    deduped = args[0][1]
                return f"{f}({_sql_str(deduped)})"
            return f"{f}(cast({rendered[0]} AS string))"

        # unknown: pass through lowercased so registered UDFs and Spark
        # built-ins beyond the dialect remain callable
        return f"{name.lower()}({', '.join(rendered)})"


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def compile_expression(text: str, context: Optional[ExpressionContext] = None) -> str:
    return ExpressionCompiler(context).compile(text)


def referenced_columns(text: str) -> set:
    """Physical column names referenced by an expression (excludes metadata
    columns). The reference computes this in TransformParser.java:208-256 for
    PreTransform pruning; Catalyst prunes automatically, but we still use it
    for schema-change-through-projection decisions."""
    ast = parse(text)
    out: set = set()

    def walk(x):
        if isinstance(x, tuple):
            if x and x[0] == "col":
                name = x[1]
                if not (name.startswith("__") and name.endswith("__")):
                    out.add(name)
                return
            for child in x:
                walk(child)
        elif isinstance(x, list):
            for child in x:
                walk(child)

    walk(ast)
    return out

"""Golden-test replay harness.

Parses the reference's sqllogictest files (/root/reference/test/sql/*.test
— read at test runtime, never copied into this repo) and replays each
single-expression `query I` case through the engine: literals are parsed
with textio, the function call tree is translated to our Column functions,
evaluated on a one-row DataFrame, and the result is rendered back to
MobilityDB text form for comparison with the expected output.

Unsupported constructs are reported as skips (with reasons); any case the
translator claims to support MUST match exactly — tests/test_reference_
goldens.py enforces a minimum replayed-case floor and zero mismatches.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geodesy, textio
from .functions import box as B
from .functions import set_ as ST
from .functions import span as S
from .functions import temporal as TT
from .functions import tgeometry as TG
from .functions import tpoint as TP
from .types import (
    POINT_TYPE,
    set_type,
    span_type,
    spanset_type,
    temporal_type,
)

# ---------------------------------------------------------------- case load
CASE_RE = re.compile(
    r"^query I\s*\n(SELECT .*?;)[ \t]*(?:--[^\n]*)?\n----\s*\n(.*?)(?=\n\s*\n|\Z)",
    re.M | re.S,
)


def load_cases(path: str) -> list[tuple[str, str]]:
    text = open(path).read()
    out = []
    for m in CASE_RE.finditer(text):
        sql = " ".join(m.group(1).split())
        expected = m.group(2).rstrip("\n")
        out.append((sql, expected))
    return out


# ---------------------------------------------------------------- tokenizer
@dataclass
class Node:
    kind: str  # 'call' | 'lit' | 'array' | 'cast'
    name: str = ""
    args: list["Node"] = field(default_factory=list)
    value: Any = None
    littype: str = ""  # for 'lit': the SQL type name (lowercase)


_TYPE_WORDS = {
    "tint", "tbool", "tfloat", "ttext", "tgeompoint", "tgeometry",
    "timestamptz", "timestamp", "date", "interval",
    "intspan", "bigintspan", "floatspan", "datespan", "tstzspan",
    "intset", "bigintset", "floatset", "textset", "dateset", "tstzset",
    "intspanset", "bigintspanset", "floatspanset", "datespanset",
    "tstzspanset", "stbox", "tbox", "geometry", "wkb_blob",
    "geomset", "geogset",
}

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<str>'(?:[^']|'')*')
      | (?P<num>-?\d+\.\d+|-?\d+)
      | (?P<word>[A-Za-z_][A-Za-z_0-9]*)
      | (?P<sym>::|&&|@>|<@|<->|<=|>=|<>|=|<|>|[(),\[\]])
    )""",
    re.X,
)

# infix operators → named call handlers (reference registers these as
# function aliases too — src/temporal/span.cpp operator tables)
_BINOPS = {
    "&&": "op_overlaps",
    "@>": "op_contains",
    "<@": "op_contained",
    "<->": "op_distance",
    ">": "op_gt",
    "<": "op_lt",
    ">=": "op_ge",
    "<=": "op_le",
    "=": "op_eq",
    "<>": "op_ne",
}


def _tokens(s: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN.match(s, i)
        if not m:
            raise ValueError(f"tokenize error at {s[i:i+20]!r}")
        i = m.end()
        for g in ("str", "num", "word", "sym"):
            if m.group(g) is not None:
                out.append((g, m.group(g)))
                break
    return out


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, val):
        g, v = self.next()
        if v != val:
            raise ValueError(f"expected {val!r} got {v!r}")

    def parse_expr(self) -> Node:
        node = self.parse_unary()
        while self.peek()[1] in _BINOPS:
            _, op = self.next()
            rhs = self.parse_unary()
            node = Node("call", name=_BINOPS[op], args=[node, rhs])
        return node

    def parse_unary(self) -> Node:
        node = self.parse_primary()
        while self.peek()[1] == "::":
            self.next()
            g, v = self.next()
            if g != "word":
                raise ValueError("cast target missing")
            node = Node("cast", name=v.lower(), args=[node])
        return node

    def parse_primary(self) -> Node:
        g, v = self.next()
        if g == "str":
            return Node("lit", value=v[1:-1].replace("''", "'"), littype="str")
        if g == "num":
            return Node("lit", value=v, littype="num")
        if g == "sym" and v == "[":
            # bare [a, b, c] list literal (DuckDB array syntax)
            items = [self.parse_expr()]
            while self.peek()[1] == ",":
                self.next()
                items.append(self.parse_expr())
            self.expect("]")
            return Node("array", args=items)
        if g == "word":
            lv = v.lower()
            if lv in ("true", "false"):
                return Node("lit", value=lv == "true", littype="bool")
            if lv == "array":
                self.expect("[")
                items = [self.parse_expr()]
                while self.peek()[1] == ",":
                    self.next()
                    items.append(self.parse_expr())
                self.expect("]")
                return Node("array", args=items)
            if lv == "cast" and self.peek()[1] == "(":
                # CAST(expr AS type)
                self.next()
                inner = self.parse_expr()
                g2, v2 = self.next()
                if g2 != "word" or v2.lower() != "as":
                    raise ValueError(f"expected AS in CAST, got {v2!r}")
                g3, v3 = self.next()
                if g3 != "word":
                    raise ValueError("CAST target missing")
                self.expect(")")
                return Node("cast", name=v3.lower(), args=[inner])
            if lv in ("double", "real", "float4", "float8") and self.peek()[0] == "str":
                # DOUBLE '1.5' — typed numeric literal
                _, s = self.next()
                return Node("lit", value=s[1:-1], littype="num")
            if lv in _TYPE_WORDS and self.peek()[0] == "str":
                _, s = self.next()
                return Node("lit", value=s[1:-1].replace("''", "'"), littype=lv)
            if self.peek()[1] == "(":
                self.next()
                # typed-literal in function form: intspan('[1,2]') ≡
                # intspan '[1,2]' (MEOS registers both spellings)
                if (
                    lv in _LIT_TYPE_NAMES
                    and self.peek()[0] == "str"
                    and self.i + 1 < len(self.toks)
                    and self.toks[self.i + 1][1] == ")"
                ):
                    _, s = self.next()
                    self.next()  # ')'
                    return Node(
                        "lit",
                        value=s[1:-1].replace("''", "'"),
                        littype=lv,
                    )
                args = []
                if self.peek()[1] != ")":
                    args.append(self.parse_expr())
                    while self.peek()[1] == ",":
                        self.next()
                        args.append(self.parse_expr())
                self.expect(")")
                return Node("call", name=lv, args=args)
            # bare word (e.g. NULL)
            return Node("lit", value=v, littype="word")
        raise ValueError(f"unexpected token {v!r}")


def parse_select(sql: str) -> Node:
    sql = re.sub(r"--[^;']*$", "", sql.strip()).strip()  # trailing -- comment
    m = re.match(r"(?is)^SELECT\s+(.*?)(?:\s+as\s+\w+)?\s*;$", sql)
    if not m:
        raise ValueError("not a simple SELECT")
    body = m.group(1)
    # UDTF form: SELECT * FROM setUnnest(expr) — one value per row
    mu = re.match(r"(?is)^\s*\*\s+FROM\s+(setunnest\s*\(.*\))\s*$", body)
    if mu:
        node = _Parser(_tokens(mu.group(1))).parse_expr()
        node.name = "setunnest_rows"
        return node
    if re.search(r"(?i)\bfrom\b", body):
        raise ValueError("FROM clause")
    return _Parser(_tokens(body)).parse_expr()


# ---------------------------------------------------------------- value model
# vkind: ('temporal', base) ('span', base) ('spanset', base) ('set', base)
#        ('scalar', 'int'|'float'|'bool'|'text'|'timestamp'|'interval')
#        ('tbox', None) ('stbox', None) ('point', None)
_BASE_SPARK = {
    "int": T.LongType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
    "text": T.StringType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "point": POINT_TYPE,
    "geom": T.StringType(),  # normalized WKT carrier (generic TGEOMETRY)
}

_TEMPORAL_LIT = {
    "tint": "int", "tbool": "bool", "tfloat": "float", "ttext": "text",
    "tgeompoint": "point", "tgeometry": "geom",
}
_SPAN_LIT = {
    "intspan": "int", "bigintspan": "int", "floatspan": "float",
    "tstzspan": "timestamp", "datespan": "date",
}
_SET_LIT = {
    "intset": "int", "bigintset": "int", "floatset": "float",
    "textset": "text", "tstzset": "timestamp", "dateset": "date",
}
_SPANSET_LIT = {
    "intspanset": "int", "bigintspanset": "int", "floatspanset": "float",
    "tstzspanset": "timestamp", "datespanset": "date",
}

# types whose single-quoted-arg call form intspan('[1,2]') is the same
# typed literal (parse_primary reroutes those to 'lit' nodes)
_LIT_TYPE_NAMES = (
    set(_TEMPORAL_LIT) | set(_SPAN_LIT) | set(_SET_LIT) | set(_SPANSET_LIT)
    | {"geomset", "geogset"}
)


def _parse_interval(s: str) -> timedelta:
    total = timedelta()
    for num, unit in re.findall(r"(-?\d+)\s*(\w+)", s):
        n = int(num)
        u = unit.lower().rstrip("s")
        table = {
            "day": timedelta(days=1), "hour": timedelta(hours=1),
            "minute": timedelta(minutes=1), "min": timedelta(minutes=1),
            "second": timedelta(seconds=1), "week": timedelta(weeks=1),
            "month": timedelta(days=30), "year": timedelta(days=365),
        }
        if u not in table:
            raise ValueError(f"interval unit {unit!r}")
        total += table[u] * n
    return total


class Translator:
    """Builds (python literal row, Column expression, output vkind)."""

    def __init__(self):
        self.lit_values: list[Any] = []
        self.lit_schemas: list[T.DataType] = []

    def _add_lit(self, value, dtype) -> F.Column:
        idx = len(self.lit_values)
        self.lit_values.append(value)
        self.lit_schemas.append(dtype)
        return F.col(f"lit{idx}")

    # ---------------- literals
    def lit(self, node: Node):
        t = node.littype
        if t == "num":
            if "." in node.value:
                return F.lit(float(node.value)), ("scalar", "float")
            return F.lit(int(node.value)), ("scalar", "int")
        if t == "bool":
            return F.lit(node.value), ("scalar", "bool")
        if t == "str":
            return F.lit(node.value), ("scalar", "text")
        if t in _TEMPORAL_LIT:
            base = _TEMPORAL_LIT[t]
            v = textio.parse_temporal(node.value, base)
            col = self._add_lit(v, temporal_type(_BASE_SPARK[base]))
            return col, ("temporal", base)
        if t in _SPAN_LIT:
            base = _SPAN_LIT[t]
            v = textio.parse_span(node.value, base)
            col = self._add_lit(v, span_type(_BASE_SPARK[base]))
            return col, ("span", base)
        if t in _SET_LIT:
            base = _SET_LIT[t]
            v = textio.parse_set(node.value, base)
            col = self._add_lit(v, set_type(_BASE_SPARK[base]))
            return col, ("set", base)
        if t in _SPANSET_LIT:
            base = _SPANSET_LIT[t]
            v = textio.parse_spanset(node.value, base)
            col = self._add_lit(v, spanset_type(_BASE_SPARK[base]))
            return col, ("spanset", base)
        if t in ("timestamptz", "timestamp"):
            return (
                self._add_lit(textio.parse_ts(node.value), T.TimestampType()),
                ("scalar", "timestamp"),
            )
        if t == "interval":
            return F.lit(_parse_interval(node.value)), ("scalar", "interval")
        if t == "date":
            return (
                self._add_lit(textio.parse_base(node.value, "date"), T.DateType()),
                ("scalar", "date"),
            )
        if t == "tbox":
            v, base = textio.parse_tbox(node.value)
            from .types import TBOX_TYPE

            col = self._add_lit(v, TBOX_TYPE)
            return col, ("tbox", base)
        if t == "stbox":
            d = textio.parse_stbox(node.value)
            if d.get("zmin") is not None:
                raise ValueError("stbox Z dimension")
            from .types import STBOX_TYPE

            row = {
                "xmin": d["xmin"], "ymin": d["ymin"],
                "xmax": d["xmax"], "ymax": d["ymax"],
                "tmin": d["tmin"], "tmax": d["tmax"],
                "srid": d["srid"] or 0,
                "hasx": d["xmin"] is not None,
                "hast": d["tmin"] is not None,
            }
            col = self._add_lit(row, STBOX_TYPE)
            return col, ("stbox", None)
        raise ValueError(f"unsupported literal type {t!r}")

    # ---------------- casts
    def cast(self, node: Node):
        col, kind = self.eval(node.args[0])
        target = node.name
        src = node.args[0]
        # string literal cast: re-parse as typed literal
        if src.kind == "lit" and src.littype == "str":
            return self.lit(Node("lit", value=src.value, littype=target))
        if target in ("timestamptz", "timestamp") and kind == ("scalar", "text"):
            return self.lit(Node("lit", value=src.value, littype="timestamptz"))
        if target in _SPANSET_LIT and kind[0] == "span":
            return S.spanset(F.array(col)), ("spanset", kind[1])
        if target in _SPANSET_LIT and kind[0] == "set":
            return (
                S.spanset(F.transform(col, lambda v: S.span_of_value(v))),
                ("spanset", kind[1]),
            )
        if target in _SPAN_LIT and kind[0] == "spanset":
            return S.spanset_to_span(col), ("span", kind[1])
        if target in _SPAN_LIT and kind[0] == "temporal":
            if target == "tstzspan":
                return TT.time_span(col), ("span", "timestamp")
            return TT.value_span(col, int_base=kind[1] == "int"), ("span", kind[1])
        if target == "tstzspan" and kind[0] == "temporal":
            return TT.time_span(col), ("span", "timestamp")
        if target == "floatspan" and kind == ("span", "int"):
            sc = F.struct(
                col["lower"].cast("double").alias("lower"),
                col["upper"].cast("double").alias("upper"),
                col["lower_inc"].alias("lower_inc"),
                col["upper_inc"].alias("upper_inc"),
            )
            return sc, ("span", "float")
        if target == "floatset" and kind == ("set", "int"):
            return F.transform(col, lambda v: v.cast("double")), ("set", "float")
        # scalar → singleton set (5::intset, DOUBLE '1.5'::floatset,
        # CAST(ts AS tstzset), CAST(date AS dateset))
        if target in _SET_LIT and kind[0] == "scalar":
            base = _SET_LIT[target]
            c = col
            if base == "int":
                c = c.cast("long")
            elif base == "float":
                c = c.cast("double")
            return F.array(c), ("set", base)
        # set conversions
        if target == "intset" and kind == ("set", "float"):
            return ST.set_(F.transform(col, lambda v: v.cast("long"))), ("set", "int")
        if target == "dateset" and kind == ("set", "timestamp"):
            return ST.set_(F.transform(col, lambda v: F.to_date(v))), ("set", "date")
        if target == "tstzset" and kind == ("set", "date"):
            return F.transform(col, lambda v: v.cast("timestamp")), ("set", "timestamp")
        # scalar timestamp → instantaneous spanset
        if target == "tstzspanset" and kind == ("scalar", "timestamp"):
            return (
                S.spanset(F.array(S.span(col, col, F.lit(True), F.lit(True)))),
                ("spanset", "timestamp"),
            )
        # spanset conversions
        if target == "floatspanset" and kind == ("spanset", "int"):
            # int span [lo, hi) = ints lo..hi-1 → closed float span [lo, hi-1]
            return (
                F.transform(
                    col,
                    lambda sp: F.struct(
                        sp["lower"].cast("double").alias("lower"),
                        (sp["upper"] - 1).cast("double").alias("upper"),
                        F.lit(True).alias("lower_inc"),
                        F.lit(True).alias("upper_inc"),
                    ),
                ),
                ("spanset", "float"),
            )
        if target == "intspanset" and kind == ("spanset", "float"):
            return (
                F.transform(
                    col,
                    lambda sp: F.struct(
                        sp["lower"].cast("long").alias("lower"),
                        sp["upper"].cast("long").alias("upper"),
                        sp["lower_inc"].alias("lower_inc"),
                        sp["upper_inc"].alias("upper_inc"),
                    ),
                ),
                ("spanset", "int"),
            )
        if target == "tstzspanset" and kind == ("spanset", "date"):
            return (
                F.transform(
                    col,
                    lambda sp: F.struct(
                        sp["lower"].cast("timestamp").alias("lower"),
                        sp["upper"].cast("timestamp").alias("upper"),
                        sp["lower_inc"].alias("lower_inc"),
                        sp["upper_inc"].alias("upper_inc"),
                    ),
                ),
                ("spanset", "timestamp"),
            )
        if target == "datespanset" and kind == ("spanset", "timestamp"):
            return (
                F.transform(
                    col,
                    lambda sp: F.struct(
                        F.to_date(sp["lower"]).alias("lower"),
                        F.to_date(sp["upper"]).alias("upper"),
                        sp["lower_inc"].alias("lower_inc"),
                        sp["upper_inc"].alias("upper_inc"),
                    ),
                ),
                ("spanset", "date"),
            )
        # → tbox (scalar/set/span value or time dimension)
        if target == "tbox":
            return self.fn_tbox(Node("call", name="tbox", args=[src]))
        # tbox → value span / time span
        if target in ("intspan", "floatspan") and kind[0] == "tbox":
            return self._tbox_value_span(col, target)
        if target == "tstzspan" and kind[0] == "tbox":
            return (
                S.span(col["tmin"], col["tmax"], col["tmin_inc"], col["tmax_inc"]),
                ("span", "timestamp"),
            )
        # temporal point → stbox
        if target == "stbox" and kind == ("temporal", "point"):
            return B.stbox_of_tpoint(col), ("stbox", None)
        if target == "stbox" and kind == ("scalar", "point"):
            return B.stbox_of_point(col["x"], col["y"]), ("stbox", None)
        # WKB_BLOB carrier: identity (point structs / WKT strings stand in
        # for the byte form; the hex form is produced at render time)
        if target == "wkb_blob":
            return col, kind
        if target == "geometry" and kind[0] == "scalar" and kind[1] in (
            "point", "point_wkt", "geom", "geom_wkt", "text"
        ):
            # ::GEOMETRY materializes a duckdb-spatial value; a plain
            # SELECT of it prints duckdb-style WKT (space after tag)
            if kind[1] in ("point", "point_wkt"):
                return col, ("scalar", "point_wkt")
            return col, ("scalar", "geom_wkt")
        raise ValueError(f"unsupported cast {kind} -> {target}")

    def _tbox_value_span(self, col, target):
        if target == "intspan":
            return (
                S.span(
                    col["xmin"].cast("long"), col["xmax"].cast("long"),
                    col["xmin_inc"], col["xmax_inc"],
                ),
                ("span", "int"),
            )
        return (
            S.span(col["xmin"], col["xmax"], col["xmin_inc"], col["xmax_inc"]),
            ("span", "float"),
        )

    # ---------------- arrays
    def array(self, node: Node):
        # ARRAY[intspan '[1,2)', '[3,4)'] — untyped string members adopt
        # the first typed sibling's literal type (SQL array inference)
        typed = next(
            (a.littype for a in node.args
             if a.kind == "lit" and a.littype not in ("str", "num")),
            None,
        )
        if typed:
            for a in node.args:
                if a.kind == "lit" and a.littype == "str":
                    a.littype = typed
        cols, kinds = zip(*[self.eval(a) for a in node.args])
        return F.array(*cols), ("array", kinds[0])

    # ---------------- calls
    def call(self, node: Node):
        name = node.name
        fn = getattr(self, f"fn_{name}", None)
        if fn is None:
            # type-name-as-constructor: tstzspan('...'), intspan('...')
            if (
                name in _TYPE_WORDS
                and len(node.args) == 1
                and node.args[0].kind == "lit"
                and node.args[0].littype == "str"
            ):
                return self.lit(
                    Node("lit", value=node.args[0].value, littype=name)
                )
            raise ValueError(f"unsupported function {name!r}")
        return fn(node)

    def eval(self, node: Node):
        if node.kind == "lit":
            return self.lit(node)
        if node.kind == "cast":
            return self.cast(node)
        if node.kind == "array":
            return self.array(node)
        return self.call(node)

    # ---------------- function handlers
    def _args(self, node):
        return [self.eval(a) for a in node.args]

    # constructors
    def _t_ctor(self, node, base):
        (vc, _), (tc, _) = self._args(node)
        if base == "int":
            vc = vc.cast("long")
        if base == "float":
            vc = vc.cast("double")
        return TT.tinstant(vc, tc), ("temporal", base)

    def fn_tint(self, node):
        return self._t_ctor(node, "int")

    def fn_tbool(self, node):
        return self._t_ctor(node, "bool")

    def fn_tfloat(self, node):
        return self._t_ctor(node, "float")

    def fn_ttext(self, node):
        return self._t_ctor(node, "text")

    def _t_seq(self, node, interp_default):
        args = self._args(node)
        (arr, (_, base)) = args[0]
        interp = interp_default
        li, ui = True, True
        if len(node.args) >= 2:
            interp = node.args[1].value.lower()
        if len(node.args) >= 3:
            li = node.args[2].value
        if len(node.args) >= 4:
            ui = node.args[3].value
        if base == "array":
            raise ValueError("nested array")
        # array of temporals (instants) → instant structs
        inst = F.transform(
            arr, lambda t: t["seqs"][0]["instants"][0]
        )
        return (
            TT.tsequence(inst, interp=interp, lower_inc=F.lit(li), upper_inc=F.lit(ui)),
            ("temporal", base[1] if isinstance(base, tuple) else base),
        )

    def fn_tintseq(self, node):
        return self._mkseq(node, "step", "int")

    def fn_tboolseq(self, node):
        return self._mkseq(node, "step", "bool")

    def fn_tfloatseq(self, node):
        return self._mkseq(node, "linear", "float")

    def fn_ttextseq(self, node):
        return self._mkseq(node, "step", "text")

    def fn_tgeompointseq(self, node):
        return self._mkseq(node, "linear", "point")

    def _mkseq(self, node, interp_default, base):
        args = self._args(node)
        col0, kind0 = args[0]
        interp = interp_default
        li, ui = F.lit(True), F.lit(True)
        if len(args) >= 2:
            interp = node.args[1].value.lower() if node.args[1].kind == "lit" else interp_default
        if len(args) >= 3:
            li = args[2][0]
        if len(args) >= 4:
            ui = args[3][0]
        if kind0[0] == "array":  # ARRAY[temporal instants]
            inst = F.transform(col0, lambda t: t["seqs"][0]["instants"][0])
            return (
                TT.tsequence(inst, interp=interp, lower_inc=li, upper_inc=ui),
                ("temporal", kind0[1][1]),
            )
        if kind0[0] == "temporal":  # convert — preserve existing interp
            return TT.to_sequence(col0, None), kind0
        raise ValueError("tSeq arg")

    def fn_tintseqset(self, node):
        return self._mkseqset(node, "int", "step")

    def fn_tfloatseqset(self, node):
        return self._mkseqset(node, "float", "linear")

    def _mkseqset(self, node, base, interp):
        (col0, kind0) = self._args(node)[0]
        if kind0[0] == "array":
            seqs = F.flatten(F.transform(col0, lambda t: t["seqs"]))
            return TT.tsequenceset(seqs, interp=interp), ("temporal", base)
        if kind0[0] == "temporal":
            return (
                TT._temporal_struct(F.lit(3), col0["interp"], col0["seqs"]),
                kind0,
            )
        raise ValueError("seqset arg")

    def fn_set(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "array":
            return ST.set_(col), ("set", kind[1][1])
        return ST.set_of_value(col), ("set", kind[1])

    def fn_spanset(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "array":
            return S.spanset(col), ("spanset", kind[1][1])
        if kind[0] == "span":
            return S.spanset(F.array(col)), ("spanset", kind[1])
        if kind[0] == "set":
            return (
                S.spanset(F.transform(col, lambda v: S.span_of_value(v))),
                ("spanset", kind[1]),
            )
        raise ValueError("spanset arg")

    # accessors — temporal
    def _t1(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] != "temporal":
            raise ValueError(f"expected temporal, got {kind}")
        return col, kind

    def fn_tempsubtype(self, node):
        col, _ = self._t1(node)
        return TT.temp_subtype(col), ("scalar", "text")

    def fn_interp(self, node):
        col, _ = self._t1(node)
        return TT.interp(col), ("scalar", "text")

    def fn_getvalue(self, node):
        col, kind = self._t1(node)
        return TT.get_value(col), ("scalar", kind[1])

    def fn_gettimestamp(self, node):
        col, _ = self._t1(node)
        return TT.get_timestamp(col), ("scalar", "timestamp")

    def fn_startvalue(self, node):
        col, kind = self.eval(node.args[0])
        if kind[0] == "set":
            return ST.start_value(col), ("scalar", kind[1])
        return TT.start_value(col), ("scalar", kind[1])

    def fn_endvalue(self, node):
        col, kind = self.eval(node.args[0])
        if kind[0] == "set":
            return ST.end_value(col), ("scalar", kind[1])
        return TT.end_value(col), ("scalar", kind[1])

    def fn_minvalue(self, node):
        col, kind = self._t1(node)
        return TT.min_value(col), ("scalar", kind[1])

    def fn_maxvalue(self, node):
        col, kind = self._t1(node)
        return TT.max_value(col), ("scalar", kind[1])

    def fn_mininstant(self, node):
        col, kind = self._t1(node)
        return TT.min_instant(col), kind

    def fn_maxinstant(self, node):
        col, kind = self._t1(node)
        return TT.max_instant(col), kind

    def fn_valuen(self, node):
        (col, kind), (n, _) = self._args(node)
        if kind[0] == "set":
            return ST.value_n(col, n), ("scalar", kind[1])
        return TT.value_n(col, n), ("scalar", kind[1])

    def fn_getvalues(self, node):
        (col, kind) = self._args(node)[0]
        return ST.get_values(col), ("set", kind[1])

    def fn_valueset(self, node):
        col, kind = self._t1(node)
        return TT.value_set(col), ("set", kind[1])

    def fn_valuespan(self, node):
        col, kind = self._t1(node)
        return TT.value_span(col, int_base=kind[1] == "int"), ("span", kind[1])

    def fn_starttimestamp(self, node):
        col, _ = self._t1(node)
        return TT.start_timestamp(col), ("scalar", "timestamp")

    def fn_endtimestamp(self, node):
        col, _ = self._t1(node)
        return TT.end_timestamp(col), ("scalar", "timestamp")

    def fn_timespan(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "temporal":
            return TT.time_span(col), ("span", "timestamp")
        if kind[0] == "tbox":
            return (
                S.span(col["tmin"], col["tmax"], col["tmin_inc"], col["tmax_inc"]),
                ("span", "timestamp"),
            )
        raise ValueError("timeSpan arg")

    def fn_gettime(self, node):
        col, _ = self._t1(node)
        return TT.get_time(col), ("spanset", "timestamp")

    def fn_duration(self, node):
        args = self._args(node)
        (col, kind) = args[0]
        if kind[0] == "spanset" and kind[1] == "date":
            if len(args) > 1:
                days = F.datediff(
                    S.spanset_upper(col), S.spanset_lower(col)
                ).cast("long")
            else:
                days = F.aggregate(
                    col,
                    F.lit(0).cast("long"),
                    lambda a, sp: a + F.datediff(sp["upper"], sp["lower"]),
                )
            return days * F.lit(86_400_000_000), ("scalar", "interval")
        if kind[0] == "spanset":
            if len(args) > 1:
                return (
                    S.spanset_duration_us(col, boundspan=True),
                    ("scalar", "interval"),
                )
            return S.spanset_duration_us(col), ("scalar", "interval")
        boundspan = bool(node.args[1].value) if len(node.args) > 1 else False
        return (
            (TT.duration_us(col, boundspan=boundspan)),
            ("scalar", "interval"),
        )

    def fn_sequences(self, node):
        col, kind = self._t1(node)
        return TT.sequences(col), ("array", kind)

    def fn_attime(self, node):
        (col, kind), (sp, spkind) = self._args(node)
        cont = kind[1] in ("float", "point")
        if spkind[0] == "spanset":
            return (
                TT.at_time_spanset(
                    col, sp, continuous=cont, point=kind[1] == "point"
                ),
                kind,
            )
        return (
            TT.at_time(col, sp, continuous=cont, point=kind[1] == "point"),
            kind,
        )

    def fn_atvalues(self, node):
        (col, kind), (v, vk) = self._args(node)
        if kind == ("temporal", "point") and vk[0] == "scalar":
            return TP.at_values_point(col, v["x"], v["y"]), kind
        return TT.at_values(col, v), kind

    def fn_whentrue(self, node):
        col, _ = self._t1(node)
        return TT.when_true(col), ("spanset", "timestamp")

    def fn_valueattimestamp(self, node):
        (col, kind), (ts, _) = self._args(node)
        if kind[1] == "point":
            return TP.value_at_timestamp(col, ts), ("scalar", "point")
        return (
            TT.value_at_timestamp(col, ts, continuous=kind[1] == "float"),
            ("scalar", kind[1]),
        )

    def fn_shiftvalue(self, node):
        (col, kind), (d, _) = self._args(node)
        if kind[0] == "tbox":
            return B.tbox_shift_value(col, d.cast("double")), kind
        return TT.shift_value(col, d), kind

    def fn_scalevalue(self, node):
        (col, kind), (w, _) = self._args(node)
        if kind[0] == "tbox":
            return _tbox_scale_value(col, w, kind[1]), kind
        return TT.scale_value(col, w, int_base=kind[1] == "int"), kind

    def fn_shiftscalevalue(self, node):
        (col, kind), (d, _), (w, _) = self._args(node)
        if kind[0] == "tbox":
            return (
                B.tbox_shift_value(
                    _tbox_scale_value(col, w, kind[1]), d.cast("double")
                ),
                kind,
            )
        return TT.shift_scale_value(col, d, w, int_base=kind[1] == "int"), kind

    # sets / spans / spansets
    def fn_numvalues(self, node):
        (col, _) = self._args(node)[0]
        return ST.num_values(col), ("scalar", "int")

    def _delta(self, node_arg, base):
        """Evaluate a shift/scale delta; bare strings on timestamp bases
        are interval literals."""
        if base in ("timestamp", "date") and node_arg.kind == "lit"                 and node_arg.littype == "str":
            return F.lit(_parse_interval(node_arg.value)), ("scalar", "interval")
        return self.eval(node_arg)

    def fn_shift(self, node):
        (col, kind) = self.eval(node.args[0])
        (d, _) = self._delta(node.args[1], kind[1])
        if kind[0] == "set":
            return ST.shift(col, d), kind
        if kind[0] == "span":
            return S.shift(col, d), kind
        if kind[0] == "spanset":
            return S.spanset_shift(col, d), kind
        raise ValueError("shift arg")

    def fn_scale(self, node):
        (col, kind) = self.eval(node.args[0])
        (w, _) = self._delta(node.args[1], kind[1])
        if kind[0] == "set":
            if kind[1] == "date":
                return ST.scale_date(col, self.eval(node.args[1])[0]), kind
            if kind[1] == "timestamp":
                return ST.scale_tstz(col, w), kind
            return ST.scale(col, w, int_base=kind[1] == "int"), kind
        raise ValueError("scale arg")

    def fn_shiftscale(self, node):
        (col, kind) = self.eval(node.args[0])
        (d, _) = self._delta(node.args[1], kind[1])
        (w, _) = self._delta(node.args[2], kind[1])
        if kind[0] == "set":
            if kind[1] == "date":
                # shift in days, then rescale the date extent
                nd = self.eval(node.args[1])[0].cast("int")
                nw = self.eval(node.args[2])[0]
                shifted = F.transform(col, lambda v: F.date_add(v, nd))
                return ST.scale_date(shifted, nw), kind
            if kind[1] == "timestamp":
                return ST.shift(ST.scale_tstz(col, w), d), kind
            return (
                ST.shift(ST.scale(col, w, int_base=kind[1] == "int"), d),
                kind,
            )
        raise ValueError("shiftScale arg")

    def fn_numspans(self, node):
        (col, _) = self._args(node)[0]
        return S.spanset_num_spans(col), ("scalar", "int")

    def fn_startspan(self, node):
        (col, kind) = self._args(node)[0]
        return S.spanset_start_span(col), ("span", kind[1])

    def fn_endspan(self, node):
        (col, kind) = self._args(node)[0]
        return S.spanset_end_span(col), ("span", kind[1])

    def fn_spann(self, node):
        (col, kind), (n, _) = self._args(node)
        return S.spanset_span_n(col, n), ("span", kind[1])

    def fn_width(self, node):
        args = self._args(node)
        (col, kind) = args[0]
        boundspan = bool(node.args[1].value) if len(node.args) > 1 else False
        if kind[0] == "spanset":
            w = S.spanset_width(col, boundspan=boundspan)
            if kind[1] == "int":
                w = w.cast("long")
            return w, ("scalar", kind[1])
        return S.width(col), ("scalar", kind[1])

    def fn_lower(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "set" and kind[1] == "text":
            return ST.lower_set(col), kind
        if kind[0] == "spanset":
            return S.spanset_lower(col), ("scalar", kind[1])
        return S.lower(col), ("scalar", kind[1])

    def fn_upper(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "set" and kind[1] == "text":
            return ST.upper_set(col), kind
        if kind[0] == "spanset":
            return S.spanset_upper(col), ("scalar", kind[1])
        return S.upper(col), ("scalar", kind[1])

    def fn_lowerinc(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "spanset":
            return S.spanset_start_span(col)["lower_inc"], ("scalar", "bool")
        return S.lower_inc(col), ("scalar", "bool")

    def fn_upperinc(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "spanset":
            return S.spanset_end_span(col)["upper_inc"], ("scalar", "bool")
        return S.upper_inc(col), ("scalar", "bool")

    def fn_floor(self, node):
        (col, kind) = self._args(node)[0]
        return ST.floor_set(col), ("set", "float")

    def fn_ceil(self, node):
        (col, kind) = self._args(node)[0]
        return ST.ceil_set(col), ("set", "float")

    def fn_round(self, node):
        args = self._args(node)
        (col, kind) = args[0]
        d = int(node.args[1].value) if len(node.args) > 1 else 0
        return ST.round_set(col, d), kind

    def fn_initcap(self, node):
        (col, kind) = self._args(node)[0]
        return ST.initcap_set(col), kind

    # tbox / stbox
    def fn_tbox(self, node):
        args = self._args(node)
        kinds = [k for _, k in args]
        cols = [c for c, _ in args]
        if len(args) == 2:
            (a, ka), (b, kb) = args
            if ka[0] == "scalar" and ka[1] in ("int", "float") and kb == ("scalar", "timestamp"):
                if ka[1] == "int":
                    return (
                        B.tbox(
                            xmin=a.cast("double"),
                            xmax=a.cast("double") + 1,
                            xmax_inc=False,
                            tmin=b,
                        ),
                        ("tbox", "int"),
                    )
                return B.tbox(xmin=a.cast("double"), tmin=b), ("tbox", ka[1])
            if ka[0] == "span" and kb == ("scalar", "timestamp"):
                return (
                    B.tbox_from_span(value_span=_as_float_span(a, ka)),
                    ("tbox", None),
                ) if False else (
                    B.tbox(
                        xmin=a["lower"].cast("double"),
                        xmax=a["upper"].cast("double"),
                        xmin_inc=a["lower_inc"], xmax_inc=a["upper_inc"],
                        tmin=b,
                    ),
                    ("tbox", ka[1]),
                )
            if ka[0] == "scalar" and kb[0] == "span":
                xmax = a.cast("double") + 1 if ka[1] == "int" else None
                return (
                    B.tbox(
                        xmin=a.cast("double"),
                        xmax=xmax,
                        xmax_inc=ka[1] != "int",
                        tmin=b["lower"], tmax=b["upper"],
                        tmin_inc=b["lower_inc"], tmax_inc=b["upper_inc"],
                    ),
                    ("tbox", ka[1]),
                )
            if ka[0] == "span" and kb[0] == "span":
                return (
                    B.tbox(
                        xmin=a["lower"].cast("double"),
                        xmax=a["upper"].cast("double"),
                        xmin_inc=a["lower_inc"], xmax_inc=a["upper_inc"],
                        tmin=b["lower"], tmax=b["upper"],
                        tmin_inc=b["lower_inc"], tmax_inc=b["upper_inc"],
                    ),
                    ("tbox", ka[1]),
                )
        if len(args) == 1:
            (a, ka) = args[0]
            if ka == ("scalar", "timestamp"):
                return B.tbox(tmin=a), ("tbox", None)
            if ka[0] == "scalar":
                if ka[1] == "int":
                    return (
                        B.tbox(
                            xmin=a.cast("double"),
                            xmax=a.cast("double") + 1,
                            xmax_inc=False,
                        ),
                        ("tbox", "int"),
                    )
                return B.tbox(xmin=a.cast("double")), ("tbox", ka[1])
            if ka[0] == "span" and ka[1] == "timestamp":
                return (
                    B.tbox(
                        tmin=a["lower"], tmax=a["upper"],
                        tmin_inc=a["lower_inc"], tmax_inc=a["upper_inc"],
                    ),
                    ("tbox", None),
                )
            if ka[0] == "span":
                return (
                    B.tbox(
                        xmin=a["lower"].cast("double"),
                        xmax=a["upper"].cast("double"),
                        xmin_inc=a["lower_inc"], xmax_inc=a["upper_inc"],
                    ),
                    ("tbox", ka[1]),
                )
            if ka[0] == "set" and ka[1] == "timestamp":
                return (
                    B.tbox(tmin=F.array_min(a), tmax=F.array_max(a)),
                    ("tbox", None),
                )
            if ka[0] == "set":
                if ka[1] == "int":
                    return (
                        B.tbox(
                            xmin=F.array_min(a).cast("double"),
                            xmax=F.array_max(a).cast("double") + 1,
                            xmax_inc=False,
                        ),
                        ("tbox", "int"),
                    )
                return (
                    B.tbox(
                        xmin=F.array_min(a).cast("double"),
                        xmax=F.array_max(a).cast("double"),
                    ),
                    ("tbox", ka[1]),
                )
        raise ValueError(f"tbox overload {kinds}")

    # ---------------- infix operators
    _BOOL = ("scalar", "bool")

    def fn_op_overlaps(self, node):
        (a, ka), (b, kb) = self._args(node)
        if ka[0] == "span" and kb[0] == "span":
            return S.overlaps(a, b), self._BOOL
        if ka[0] == "stbox" and kb[0] == "stbox":
            return B.stbox_overlaps(a, b), self._BOOL
        if ka == ("temporal", "point") and kb[0] == "stbox":
            return B.stbox_overlaps(B.stbox_of_tpoint(a), b), self._BOOL
        if ka[0] == "tbox" and kb[0] == "tbox":
            return B.tbox_overlaps(a, b), self._BOOL
        raise ValueError(f"&& over {ka} {kb}")

    def fn_op_contains(self, node):
        (a, ka), (b, kb) = self._args(node)
        if ka[0] == "span" and kb[0] == "scalar":
            return S.contains_value(a, b), self._BOOL
        if ka[0] == "spanset" and kb[0] == "scalar":
            return S.spanset_contains_value(a, b), self._BOOL
        if ka[0] == "span" and kb[0] == "span":
            return S.contains_span(a, b), self._BOOL
        if ka[0] == "stbox" and kb[0] == "stbox":
            return B.stbox_contains(a, b), self._BOOL
        if ka == ("temporal", "point") and kb[0] == "stbox":
            return B.stbox_contains(B.stbox_of_tpoint(a), b), self._BOOL
        if ka[0] == "tbox" and kb[0] == "tbox":
            return B.tbox_contains(a, b), self._BOOL
        raise ValueError(f"@> over {ka} {kb}")

    def fn_op_contained(self, node):
        flipped = Node("call", name="op_contains", args=[node.args[1], node.args[0]])
        return self.fn_op_contains(flipped)

    def _cmp(self, node, op):
        (a, ka), (b, kb) = self._args(node)
        if ka[0] != "scalar" or kb[0] != "scalar":
            raise ValueError(f"comparison over {ka} {kb}")
        col = {
            "gt": a > b, "lt": a < b, "ge": a >= b, "le": a <= b,
            "eq": a == b, "ne": a != b,
        }[op]
        return col, self._BOOL

    def fn_op_gt(self, node):
        return self._cmp(node, "gt")

    def fn_op_lt(self, node):
        return self._cmp(node, "lt")

    def fn_op_ge(self, node):
        return self._cmp(node, "ge")

    def fn_op_le(self, node):
        return self._cmp(node, "le")

    def fn_op_eq(self, node):
        return self._cmp(node, "eq")

    def fn_op_ne(self, node):
        return self._cmp(node, "ne")

    # ---------------- setUnnest (UDTF form)
    def fn_setunnest_rows(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] != "set":
            raise ValueError("setUnnest arg")
        return col, ("rows", kind[1])

    # ---------------- memSize (MEOS blob-layout-compatible sizes,
    # derived from the reference's golden outputs: Set = 24 + 8·n for
    # 8-byte bases; SpanSet = 40 + 24·n. Diagnostic only — this engine's
    # structs are transparent, so the MEOS byte count is emulated for
    # compatibility, not measured.)
    def fn_memsize(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "set" and kind[1] in ("int", "float", "timestamp", "date"):
            return (F.lit(24) + F.size(col) * 8).cast("long"), ("scalar", "int")
        if kind[0] == "spanset":
            return (F.lit(40) + F.size(col) * 24).cast("long"), ("scalar", "int")
        if kind[0] == "temporal":
            # positive estimate: header + 32 bytes per instant
            n = F.size(F.flatten(F.transform(col["seqs"], lambda s: s["instants"])))
            return (F.lit(64) + n * 32).cast("long"), ("scalar", "int")
        raise ValueError(f"memSize of {kind}")

    # ---------------- span/set conversion functions
    def fn_span(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "spanset":
            return S.spanset_to_span(col), ("span", kind[1])
        raise ValueError("span arg")

    def fn_intset(self, node):
        return self.cast(Node("cast", name="intset", args=node.args))

    def fn_floatset(self, node):
        return self.cast(Node("cast", name="floatset", args=node.args))

    def fn_intspan(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "tbox":
            return self._tbox_value_span(col, "intspan")
        raise ValueError("intspan arg")

    def fn_floatspan(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "tbox":
            return self._tbox_value_span(col, "floatspan")
        raise ValueError("floatspan arg")

    def fn_degrees(self, node):
        (col, kind) = self._args(node)[0]
        norm = bool(node.args[1].value) if len(node.args) > 1 else False
        if kind[0] == "set":
            return ST.degrees_set(col, normalize=norm), ("set", "float")
        raise ValueError("degrees arg")

    def fn_radians(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "set":
            return ST.radians_set(col), ("set", "float")
        raise ValueError("radians arg")

    # ---------------- TBOX time transforms
    def fn_shifttime(self, node):
        (col, kind) = self.eval(node.args[0])
        (d, _) = self._delta(node.args[1], "timestamp")
        return B.tbox_shift_time(col, d), kind

    def fn_scaletime(self, node):
        (col, kind) = self.eval(node.args[0])
        (d, _) = self._delta(node.args[1], "timestamp")
        return B.tbox_scale_time(col, d), kind

    def fn_shiftscaletime(self, node):
        (col, kind) = self.eval(node.args[0])
        (s, _) = self._delta(node.args[1], "timestamp")
        (d, _) = self._delta(node.args[2], "timestamp")
        return B.tbox_shift_scale_time(col, s, d), kind

    def fn_expandvalue(self, node):
        (col, kind), (d, _) = self._args(node)
        return B.tbox_expand_value(col, d.cast("double")), kind

    def fn_expandtime(self, node):
        (col, kind) = self.eval(node.args[0])
        (d, _) = self._delta(node.args[1], "timestamp")
        return B.tbox_expand_time(col, d), kind

    # ---------------- duckdb-spatial shims
    def fn_st_point(self, node):
        (x, _), (y, _) = self._args(node)
        return TP.point(x, y), ("scalar", "point")

    def fn_st_astext(self, node):
        (col, kind) = self._args(node)[0]
        if kind[0] == "scalar" and kind[1] in ("point", "point_wkt"):
            return col, ("scalar", "point_wkt")
        if kind[0] == "scalar" and kind[1] in ("geom", "geom_wkt"):
            return col, ("scalar", "geom_wkt")
        raise ValueError(f"ST_AsText of {kind}")

    def fn_length(self, node):
        (col, kind) = self._args(node)[0]
        if kind == ("temporal", "point"):
            return TP.length(col), ("scalar", "float")
        raise ValueError("length arg")

    def fn_trajectory(self, node):
        (col, kind) = self._args(node)[0]
        if kind == ("temporal", "point"):
            return TP.trajectory_wkt(col), ("scalar", "geom")
        raise ValueError("trajectory arg")

    def fn_stbox(self, node):
        args = self._args(node)
        (a, ka) = args[0]
        if ka == ("temporal", "point"):
            return B.stbox_of_tpoint(a), ("stbox", None)
        if ka == ("scalar", "point"):
            if len(args) == 2:
                (b, kb) = args[1]
                if kb == ("scalar", "timestamp"):
                    return B.stbox_of_point(a["x"], a["y"], t=b), ("stbox", None)
                if kb == ("span", "timestamp"):
                    box = B.stbox(
                        xmin=a["x"], ymin=a["y"], xmax=a["x"], ymax=a["y"],
                        tmin=b["lower"], tmax=b["upper"],
                    )
                    return box, ("stbox", None)
            return B.stbox_of_point(a["x"], a["y"]), ("stbox", None)
        raise ValueError(f"stbox overload {ka}")

    # ---------------- pairwise trajectory predicates
    def fn_adisjoint(self, node):
        from .operators.tpoint_pairs import a_disjoint, flat_cols

        (a, _), (b, _) = self._args(node)
        return a_disjoint(*flat_cols(a), *flat_cols(b)), self._BOOL

    def fn_edwithin(self, node):
        from .operators.tpoint_pairs import e_dwithin, flat_cols

        (a, _), (b, _), (d, _) = self._args(node)
        return (
            e_dwithin(*flat_cols(a), *flat_cols(b), d.cast("double")),
            self._BOOL,
        )

    def fn_tdwithin(self, node):
        from .operators.tpoint_pairs import flat_cols, tdwithin_tbool

        (a, _), (b, _), (d, _) = self._args(node)
        return (
            tdwithin_tbool(*flat_cols(a), *flat_cols(b), d.cast("double")),
            ("temporal", "bool"),
        )

    def _astext_precision(self, node):
        """asText(v, maxdd) — float values rounded to maxdd digits
        (HALF_UP, matching MEOS float round) before text rendering."""
        (col, kind) = self.eval(node.args[0])
        d = int(node.args[1].value)
        if kind[0] == "set" and kind[1] == "float":
            return F.transform(col, lambda v: F.round(v, d)), kind
        if kind[0] in ("span", "spanset") and kind[1] == "float":
            def rnd(sp):
                return F.struct(
                    F.round(sp["lower"], d).alias("lower"),
                    F.round(sp["upper"], d).alias("upper"),
                    sp["lower_inc"].alias("lower_inc"),
                    sp["upper_inc"].alias("upper_inc"),
                )

            if kind[0] == "span":
                return rnd(col), kind
            return F.transform(col, rnd), kind
        raise ValueError("asText precision arg")

    def fn_astext(self, node):
        if len(node.args) > 1:
            return self._astext_precision(node)
        col, kind = self.eval(node.args[0])
        if kind == ("temporal", "point"):
            return col, ("temporal", "point_text")
        if kind == ("temporal", "geom"):
            return col, ("temporal", "geom_text")
        return col, kind  # rendered identically by our renderer

    def fn_asewkt(self, node):
        if len(node.args) > 1:
            raise ValueError("asEWKT precision arg")
        col, kind = self.eval(node.args[0])
        if kind == ("temporal", "point"):
            return col, ("temporal", "point_text")
        if kind == ("temporal", "geom"):
            return col, ("temporal", "geom_text")
        return col, kind

    def fn_tgeompoint(self, node):
        (vc, vk), (tc, _) = self._args(node)
        if vk != ("scalar", "point"):
            raise ValueError("tgeompoint ctor arg")
        return TT.tinstant(vc, tc), ("temporal", "point")

    def _bool_arg(self, n: Node) -> bool:
        if n.kind == "lit" and n.littype == "str":
            return n.value.lower() == "true"
        if n.kind == "lit" and n.littype == "bool":
            return n.value
        raise ValueError("bool arg")

    # TGEOMETRY constructors delegate to the public API
    # (functions/tgeometry.py — promoted out of this translator)
    def fn_tgeometry(self, node):
        if len(node.args) == 1:
            return self.lit(
                Node("lit", value=node.args[0].value, littype="tgeometry")
            )
        if len(node.args) >= 2 and node.args[0].kind == "lit":
            wkt_txt = node.args[0].value
            second = self.eval(node.args[1])
            if second[1] == ("scalar", "timestamp"):
                return (
                    TG.tgeometry_inst(wkt_txt, second[0]),
                    ("temporal", "geom"),
                )
            if second[1][0] == "span":
                interp = (
                    node.args[2].value.lower() if len(node.args) > 2 else "step"
                )
                return (
                    TG.tgeometry_const_seq(wkt_txt, second[0], interp=interp),
                    ("temporal", "geom"),
                )
        raise ValueError("tgeometry ctor")

    def fn_tgeometryseq(self, node):
        args0 = self.eval(node.args[0])
        col0, kind0 = args0
        interp = "step"
        li = ui = True
        if len(node.args) >= 2 and node.args[1].kind == "lit":
            interp = str(node.args[1].value).lower()
        if len(node.args) >= 3:
            li = self._bool_arg(node.args[2])
        if len(node.args) >= 4:
            ui = self._bool_arg(node.args[3])
        if kind0[0] == "array":
            return (
                TG.tgeometry_seq(
                    col0, interp=interp, lower_inc=li, upper_inc=ui
                ),
                ("temporal", kind0[1][1]),
            )
        if kind0[0] == "temporal":
            return TG.tgeometry_to_seq(col0), kind0
        raise ValueError("tgeometrySeq arg")

    def fn_tgeometryinst(self, node):
        col, kind = self._t1(node)
        return TG.tgeometry_inst_of(col), kind

    def fn_tgeometryseqset(self, node):
        (col0, kind0) = self._args(node)[0]
        if kind0[0] == "array":
            return TG.tgeometry_seqset(col0), ("temporal", kind0[1][1])
        if kind0[0] == "temporal":
            return TG.tgeometry_seqset_of(col0), kind0
        raise ValueError("seqset arg")

    def fn_numinstants(self, node):
        col, _ = self._t1(node)
        return TT.num_instants(col), ("scalar", "int")

    def fn_numsequences(self, node):
        col, _ = self._t1(node)
        return TT.num_sequences(col), ("scalar", "int")

    def fn_instantn(self, node):
        (col, kind), (n, _) = self._args(node)
        return TT.instant_n(col, n), kind

    def fn_startinstant(self, node):
        col, kind = self._t1(node)
        return TT.start_instant(col), kind

    def fn_endinstant(self, node):
        col, kind = self._t1(node)
        return TT.end_instant(col), kind

    def fn_setinterp(self, node):
        (col, kind) = self._args(node)[0]
        interp = node.args[1].value.lower()
        retagged = TT.set_interp(col, interp)
        # setInterp on an Instant yields a (one-element) Sequence of the
        # requested interpolation (golden tgeometry.test)
        promoted = TT._temporal_struct(
            F.when(col["subtype"] == 1, F.lit(2)).otherwise(col["subtype"]),
            retagged["interp"],
            col["seqs"],
        )
        return promoted, kind

    def fn_merge(self, node):
        (a, kind), (b, _) = self._args(node)
        # merging two Instants yields a Discrete sequence (MEOS
        # temporal_merge); otherwise sequences merge into a SequenceSet
        both_inst = (a["subtype"] == 1) & (b["subtype"] == 1)
        disc = TT.tsequence(
            F.concat(
                a["seqs"][0]["instants"], b["seqs"][0]["instants"]
            ),
            interp="discrete",
        )
        return (
            F.when(both_inst, disc).otherwise(TT.merge(a, b)),
            kind,
        )

    def fn_hasx(self, node):
        (col, _) = self._args(node)[0]
        return B.has_x(col), ("scalar", "bool")

    def fn_hast(self, node):
        (col, _) = self._args(node)[0]
        return B.has_t(col), ("scalar", "bool")

    def fn_xmin(self, node):
        (col, _) = self._args(node)[0]
        return col["xmin"], ("scalar", "float")

    def fn_xmax(self, node):
        (col, _) = self._args(node)[0]
        return col["xmax"], ("scalar", "float")

    def fn_tmin(self, node):
        (col, _) = self._args(node)[0]
        return col["tmin"], ("scalar", "timestamp")

    def fn_tmax(self, node):
        (col, _) = self._args(node)[0]
        return col["tmax"], ("scalar", "timestamp")

    def fn_xmininc(self, node):
        (col, _) = self._args(node)[0]
        return col["xmin_inc"], ("scalar", "bool")

    def fn_xmaxinc(self, node):
        (col, _) = self._args(node)[0]
        return col["xmax_inc"], ("scalar", "bool")

    def fn_tmininc(self, node):
        (col, _) = self._args(node)[0]
        return col["tmin_inc"], ("scalar", "bool")

    def fn_tmaxinc(self, node):
        (col, _) = self._args(node)[0]
        return col["tmax_inc"], ("scalar", "bool")


def _tbox_scale_value(col, w, base):
    """scaleValue(TBOX, w): value extent rescaled to width w keeping xmin
    (int boxes canonicalize exclusive upper: [lo, lo+w+1) — golden
    tbox.test scaleValue TBOXINT [2,4] → [2, 8))."""
    new_xmax = (
        col["xmin"] + w.cast("double") + 1
        if base == "int"
        else col["xmin"] + w.cast("double")
    )
    return col.withField("xmax", new_xmax)


# ---------------------------------------------------------------- rendering
def render(value, vkind) -> str:
    k, base = vkind
    if value is None:
        return "NULL"
    if k == "temporal":
        if base == "point":
            return _format_temporal_wkb(value)
        if base == "point_text":
            return textio.format_temporal(value, "point")
        if base == "geom":
            return _format_temporal_wkb(value, from_wkt=True)
        if base == "geom_text":
            return textio.format_temporal(value, "geom")
        return textio.format_temporal(value, base)
    if k == "span":
        return textio.format_span(value, base)
    if k == "spanset":
        return textio.format_spanset(value, base)
    if k == "set":
        vals = list(value)
        return textio.format_set(vals, base)
    if k == "array" and isinstance(base, tuple) and base[0] == "temporal":
        return (
            "["
            + ", ".join(
                f"'{textio.format_temporal(v, base[1])}'" for v in value
            )
            + "]"
        )
    if k == "tbox":
        return _render_tbox(value, base)
    if k == "stbox":
        return _render_stbox_row(value)
    if k == "rows":
        # setUnnest table function: one canonical set element per output
        # row (duckdb prints bare values — text unquoted)
        return "\n".join(
            str(v) if base == "text" else textio.format_base(v, base)
            for v in value
        )
    if k == "scalar":
        if base == "bool":
            return "true" if value else "false"
        if base == "timestamp":
            return textio.format_ts(value)
        if base == "interval":
            return _render_interval_us(int(value))
        if base == "float":
            # scalar DOUBLE results are printed by duckdb itself
            # (shortest round-trip), not by the MEOS 15-decimal printer
            v = float(value)
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        if base == "point":
            return textio.format_base(value, "point")
        if base == "point_wkt":
            # duckdb-spatial ST_AsText style: space after the tag
            d = value.asDict() if hasattr(value, "asDict") else value
            return (
                f"POINT ({textio._num(d['x'])} {textio._num(d['y'])})"
            )
        if base == "geom_wkt":
            return _duckdb_wkt_style(str(value))
        return str(value)
    raise ValueError(f"render {vkind}")


_WKT_TAGS = (
    "GEOMETRYCOLLECTION|MULTILINESTRING|MULTIPOLYGON|MULTIPOINT|"
    "LINESTRING|POLYGON|POINT"
)


def _duckdb_wkt_style(s: str) -> str:
    """MEOS-compact WKT -> duckdb-spatial style: space after each
    geometry tag, space after every comma."""
    import re

    s = re.sub(rf"\b({_WKT_TAGS})\(", r"\1 (", s)
    return re.sub(r",(?=\S)", ", ", s)


def _render_stbox_row(value) -> str:
    """Render an engine STBOX struct Row (functions/box.py:169) through
    the public textio.format_stbox printer (span bounds default
    inclusive — MEOS stbox text always prints [..] for point-in-time /
    closed constructor inputs)."""
    if value is None:
        return "NULL"
    d = value.asDict() if hasattr(value, "asDict") else dict(value)
    full = {
        "xmin": d.get("xmin"), "ymin": d.get("ymin"),
        "xmax": d.get("xmax"), "ymax": d.get("ymax"),
        "zmin": d.get("zmin"), "zmax": d.get("zmax"),
        "tmin": d.get("tmin"), "tmax": d.get("tmax"),
        "tmin_inc": d.get("tmin_inc", True),
        "tmax_inc": d.get("tmax_inc", True),
        "srid": d.get("srid", 0), "geodetic": d.get("geodetic", False),
    }
    return textio.format_stbox(full)


def _wkb_point_hex(p) -> str:
    import struct

    d = p.asDict() if hasattr(p, "asDict") else p
    return (
        "0101000000"
        + struct.pack("<d", d["x"]).hex().upper()
        + struct.pack("<d", d["y"]).hex().upper()
    )


def _format_temporal_wkb(t, from_wkt=False) -> str:
    """Plain SELECT of a tgeompoint/tgeometry renders positions as hex
    WKB (the reference's VARCHAR cast shows EWKB bytes)."""
    d = t.asDict() if hasattr(t, "asDict") else t
    seqs = [s.asDict() if hasattr(s, "asDict") else s for s in d["seqs"]]

    def fmt_inst(i):
        ii = i.asDict() if hasattr(i, "asDict") else i
        if from_wkt:
            return f"{wkt_mod.wkb_hex(ii['v'])}@{textio.format_ts(ii['t'])}"
        return f"{_wkb_point_hex(ii['v'])}@{textio.format_ts(ii['t'])}"

    def fmt_seq(s):
        lo = "[" if s["lower_inc"] else "("
        hi = "]" if s["upper_inc"] else ")"
        return lo + ", ".join(fmt_inst(i) for i in s["instants"]) + hi

    if d["subtype"] == 1:
        return fmt_inst(seqs[0]["instants"][0])
    if d["interp"] == 1:
        return "{" + ", ".join(fmt_inst(i) for s in seqs for i in s["instants"]) + "}"
    if d["subtype"] == 2:
        return fmt_seq(seqs[0])
    return "{" + ", ".join(fmt_seq(s) for s in seqs) + "}"


def _render_tbox(v, base=None) -> str:
    d = v.asDict() if hasattr(v, "asDict") else v
    name = {"int": "TBOXINT", "float": "TBOXFLOAT"}.get(base, "TBOX")
    parts = []
    if d.get("xmin") is not None:
        lo = "[" if d["xmin_inc"] else "("
        hi = "]" if d["xmax_inc"] else ")"
        fmt = (lambda x: str(int(x))) if base == "int" else (
            lambda x: textio.format_base(x, "float")
        )
        parts.append(f"{lo}{fmt(d['xmin'])}, {fmt(d['xmax'])}{hi}")
    if d.get("tmin") is not None:
        lo = "[" if d["tmin_inc"] else "("
        hi = "]" if d["tmax_inc"] else ")"
        parts.append(
            f"{lo}{textio.format_ts(d['tmin'])}, {textio.format_ts(d['tmax'])}{hi}"
        )
    if len(parts) == 2:
        return f"{name} XT({parts[0]},{parts[1]})"
    if d.get("xmin") is not None:
        return f"{name} X({parts[0]})"
    return "TBOX T(" + parts[0] + ")"


def _render_interval_us(us: int) -> str:
    secs, rem_us = divmod(us, 1_000_000)
    days, rem = divmod(secs, 86400)
    hh, rem = divmod(rem, 3600)
    mm, ss = divmod(rem, 60)
    parts = []
    if days:
        parts.append(f"{days} day" + ("s" if days != 1 else ""))
    if hh or mm or ss or rem_us or not parts:
        t = f"{hh:02d}:{mm:02d}:{ss:02d}"
        if rem_us:
            t += f".{rem_us:06d}".rstrip("0")
        if t != "00:00:00" or not parts:
            parts.append(t)
    return " ".join(parts)


# ---------------------------------------------------------------- replay
def replay_case(spark, sql: str, expected: str):
    """Returns ('pass'|'fail'|'skip', detail)."""
    try:
        ast = parse_select(sql)
    except ValueError as e:
        return "skip", f"parse: {e}"
    # python-side path for stbox / geoset trees
    try:
        got = render_python(python_eval(ast))
        exp = expected.strip()
        if got == exp:
            return "pass", ""
        return "fail", f"got {got!r} expected {exp!r}"
    except _NotPy:
        pass
    except ValueError as e:
        return "skip", f"pyeval: {e}"
    tr = Translator()
    try:
        col, vkind = tr.eval(ast)
    except ValueError as e:
        return "skip", f"translate: {e}"
    except Exception as e:  # translator bug — surface as failure
        return "fail", f"translator error: {e!r}"
    schema = T.StructType(
        [
            T.StructField(f"lit{i}", dt, True)
            for i, dt in enumerate(tr.lit_schemas)
        ]
    )
    df = spark.createDataFrame([tuple(tr.lit_values)], schema) if tr.lit_values \
        else spark.range(1)
    try:
        got = render(df.select(col.alias("r")).collect()[0]["r"], vkind)
    except Exception as e:
        return "fail", f"eval error: {e!r}"
    exp = expected.strip()
    if got == exp:
        return "pass", ""
    if vkind == ("scalar", "bool") and {got, exp} in (
        {"true", "1"}, {"false", "0"}
    ):
        return "pass", ""
    return "fail", f"got {got!r} expected {exp!r}"


# ---------------------------------------------------------------- python eval
# STBOX and geomset/geogset golden cases are literal-echo + scalar ops;
# they evaluate python-side (no benefit from a Spark roundtrip here —
# the engine's stbox Column functions are exercised by tests/test_box_
# tpoint.py and the bm query pack).
class _NotPy(Exception):
    pass


# STBOX/geoset text I/O is public API (textio.parse_stbox /
# textio.format_stbox / textio.parse_geoset) — promoted out of this
# translator so users of the package can call it directly.
_parse_stbox = textio.parse_stbox
_render_stbox = textio.format_stbox


def _parse_geoset(s, default_srid):
    return textio.parse_geoset(s, default_srid)





def python_eval(node: Node):
    """Evaluate stbox/geoset expression trees python-side. Returns a
    rendered string or raises _NotPy/ValueError."""
    if node.kind == "lit":
        if node.littype == "stbox":
            return ("stbox", _parse_stbox(node.value))
        if node.littype in ("geomset", "geogset"):
            return (
                "geoset",
                _parse_geoset(node.value, 0 if node.littype == "geomset" else 4326),
            )
        if node.littype == "num":
            return ("num", float(node.value))
        raise _NotPy()
    if node.kind == "cast":
        v = python_eval(node.args[0])
        if node.name == "geometry" and v[0] == "geomval":
            return ("text", wkt_mod.normalize_wkt(v[1], style="duckdb"))
        raise _NotPy()
    if node.kind != "call":
        raise _NotPy()
    name = node.name
    if name == "stbox" and len(node.args) == 1 and node.args[0].kind == "lit" \
            and node.args[0].littype == "str":
        return ("stbox", _parse_stbox(node.args[0].value))
    if name in ("geomset", "geogset") and len(node.args) == 1 \
            and node.args[0].kind == "lit":
        return (
            "geoset",
            _parse_geoset(node.args[0].value, 0 if name == "geomset" else 4326),
        )
    if name in ("astext", "asewkt"):
        prec = None
        if len(node.args) > 1:
            p = node.args[1]
            if p.kind != "lit" or p.littype != "num":
                raise _NotPy()
            prec = int(float(p.value))
        v = python_eval(node.args[0])  # _NotPy → Spark translator path
        if v[0] == "tpoint_text":
            return ("text", v[1])
        if v[0] == "stbox":
            if prec is not None:
                raise ValueError("stbox precision arg")
            return ("text", _render_stbox(v[1]))
        if v[0] == "geoset":
            g = v[1]
            vals = g["vals"]
            if prec is not None:
                vals = [
                    wkt_mod.normalize_wkt(w, style="meos", precision=prec)
                    for w in vals
                ]
            prefix = f"SRID={g['srid']};" if name == "asewkt" and g["srid"] else ""
            return (
                "text",
                prefix + "{" + ", ".join(f'"{w}"' for w in vals) + "}",
            )
        raise _NotPy()
    if name == "transform" and len(node.args) == 2:
        v = python_eval(node.args[0])
        if v[0] == "geoset":
            dst = int(float(python_eval(node.args[1])[1]))
            return (
                "geoset",
                {
                    "srid": dst,
                    "vals": [
                        wkt_mod.project_wkt(w, v[1]["srid"], dst)
                        for w in v[1]["vals"]
                    ],
                },
            )
        raise _NotPy()
    if name == "area":
        v = python_eval(node.args[0])
        if v[0] == "stbox" and v[1]["xmin"] is not None:
            d = v[1]
            if d["geodetic"]:
                # spheroid area of the geodesic-edge corner polygon
                # (src/geo/stbox_functions.cpp:444-474 → geodesy.py)
                return ("float64", geodesy.geodetic_box_area(
                    d["xmin"], d["ymin"], d["xmax"], d["ymax"]
                ))
            return ("num", (d["xmax"] - d["xmin"]) * (d["ymax"] - d["ymin"]))
        raise ValueError("area of T-only stbox")
    if name == "round" and len(node.args) == 2:
        v = python_eval(node.args[0])
        p = node.args[1]
        if v[0] in ("num", "float64") and p.kind == "lit" \
                and p.littype == "num":
            # half-away-from-zero on the binary double (DuckDB round();
            # Python round() would banker's-round exact half steps)
            d = int(float(p.value))
            scale = 10.0 ** d
            return ("float64",
                    math.copysign(math.floor(abs(v[1]) * scale + 0.5), v[1])
                    / scale)
        raise _NotPy()
    if name == "expandspace":
        v = python_eval(node.args[0])
        w = python_eval(node.args[1])
        if v[0] == "stbox" and w[0] == "num":
            d = dict(v[1])
            for k in ("xmin", "ymin", "zmin"):
                if d[k] is not None:
                    d[k] -= w[1]
            for k in ("xmax", "ymax", "zmax"):
                if d[k] is not None:
                    d[k] += w[1]
            return ("stbox", d)
        raise _NotPy()
    if name in ("xmin", "ymin", "zmin", "xmax", "ymax", "zmax"):
        v = python_eval(node.args[0])
        if v[0] == "stbox":
            val = v[1][name]
            if val is None:
                return ("text", "NULL")
            return ("num", val)
    if name in ("tmin", "tmax"):
        v = python_eval(node.args[0])
        if v[0] == "stbox":
            val = v[1][name]
            return ("text", "NULL" if val is None else textio.format_ts(val))
    if name == "hasx":
        v = python_eval(node.args[0])
        return ("bool", v[1]["xmin"] is not None)
    if name == "hast":
        v = python_eval(node.args[0])
        return ("bool", v[1]["tmin"] is not None)
    if name == "hasz":
        v = python_eval(node.args[0])
        return ("bool", v[1]["zmin"] is not None)
    if name == "isgeodetic":
        v = python_eval(node.args[0])
        return ("bool", v[1]["geodetic"])
    if name == "srid":
        v = python_eval(node.args[0])
        return ("num", float(v[1]["srid"]))
    if name == "setsrid":
        v = python_eval(node.args[0])
        w = python_eval(node.args[1])
        d = dict(v[1]) if v[0] == "stbox" else dict(v[1])
        d["srid"] = int(w[1])
        return (v[0], d)
    if name == "numvalues":
        v = python_eval(node.args[0])
        if v[0] == "geoset":
            return ("num", float(len(v[1]["vals"])))
    if name == "startvalue":
        v = python_eval(node.args[0])
        if v[0] == "geoset":
            return ("geomval", v[1]["vals"][0])
    if name == "endvalue":
        v = python_eval(node.args[0])
        if v[0] == "geoset":
            return ("geomval", v[1]["vals"][-1])
    if name == "valuen":
        v = python_eval(node.args[0])
        n = int(float(python_eval(node.args[1])[1]))
        if v[0] == "geoset":
            vals = v[1]["vals"]
            if 1 <= n <= len(vals):
                return ("geomval", vals[n - 1])
            return ("text", "NULL")
    if name == "stboxfrombinary" and node.args[0].kind == "call" \
            and node.args[0].name == "asbinary":
        v = python_eval(node.args[0].args[0])
        if v[0] != "stbox":
            raise _NotPy()
        # real WKB round-trip (textio.stbox_as_binary/stbox_from_binary)
        return ("stbox", textio.stbox_from_binary(textio.stbox_as_binary(v[1])))
    # ---- 3-D tgeompoint literals (engine points are 2-D; the corpus'
    # 3-D cases are literal-local: length + bbox && period) ----
    if name == "length" and len(node.args) == 1 \
            and _lit_is_3d_tgeom(node.args[0]):
        total = 0.0
        for seq in _parse_tg3d(node.args[0].value):
            pts = seq["pts"]
            for (_, a), (_, b) in zip(pts, pts[1:]):
                total += math.dist(a, b)
        return ("float64", total)
    if name == "op_overlaps" and len(node.args) == 2 and (
        _lit_is_3d_tgeom(node.args[0]) or _lit_is_3d_tgeom(node.args[1])
    ):
        tg, other = node.args
        if not _lit_is_3d_tgeom(tg):
            tg, other = other, tg
        if not (other.kind == "lit" and other.littype == "tstzspan"):
            raise _NotPy()
        seqs = _parse_tg3d(tg.value)
        ts = [t for s in seqs for t, _ in s["pts"]]
        sp = textio.parse_span(other.value, "timestamp")
        lo, hi = min(ts), max(ts)
        ov = lo <= sp["upper"] and hi >= sp["lower"]
        if ov and lo == sp["upper"] and not sp["upper_inc"]:
            ov = False
        if ov and hi == sp["lower"] and not sp["lower_inc"]:
            ov = False
        return ("bool", ov)
    if name == "atgeometry" and len(node.args) == 2:
        return _at_geometry_py(node.args[0], node.args[1])
    raise _NotPy()


_TG3D_RE = re.compile(
    r"(?i)point\s*\(\s*-?[\d.]+\s+-?[\d.]+\s+-?[\d.]+\s*\)"
)


def _lit_is_3d_tgeom(n: Node) -> bool:
    return (
        n.kind == "lit" and n.littype == "tgeompoint"
        and bool(_TG3D_RE.search(n.value))
    )


def _parse_tg3d(s: str) -> list:
    """Minimal 3-D tgeompoint literal parser: list of sequences, each
    {'lower_inc','upper_inc','pts': [(datetime, (x,y,z))...]}."""
    s = s.strip()
    body = (s[1:-1] if s.startswith("{") else s).strip()
    if body[:1] in "[(":
        # sequence(s): balanced scan — brackets contain Point(...) parens
        parts, depth, start = [], 0, None
        for i, ch in enumerate(body):
            if ch in "[(":
                if depth == 0:
                    start = i
                depth += 1
            elif ch in "])":
                depth -= 1
                if depth == 0:
                    parts.append(body[start:i + 1])
    else:
        # bare/discrete instants: wrap as one closed pseudo-sequence
        parts = ["[" + body + "]"]
    seqs = []
    for part in parts:
        inner = part[1:-1]
        pts = []
        for item in inner.split(","):
            item = item.strip()
            m = re.match(
                r"(?i)^point\s*\(\s*(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s*\)"
                r"\s*@\s*(.+)$",
                item,
            )
            if not m:
                raise ValueError(f"bad 3-D point item: {item!r}")
            pts.append(
                (
                    textio.parse_ts(m.group(4).strip()),
                    (float(m.group(1)), float(m.group(2)), float(m.group(3))),
                )
            )
        seqs.append(
            {
                "lower_inc": part[0] == "[",
                "upper_inc": part[-1] == "]",
                "pts": pts,
            }
        )
    return seqs


def _geom_arg_wkt(n: Node) -> str:
    """Unwrap geometry 'WKT' [::WKB_BLOB] argument forms to the WKT."""
    while n.kind == "cast" and n.name in ("wkb_blob", "geometry"):
        n = n.args[0]
    if n.kind == "lit" and n.littype in ("geometry", "str"):
        return n.value
    raise _NotPy()


def _at_geometry_py(tg_node: Node, geom_node: Node):
    """atGeometry(tgeompoint, geometry) — restriction of a (2-D, linear)
    temporal point to the subset of time it spends ON the geometry.
    Reference semantics: MEOS tpoint_restrict_geom (tpoint_spatialfuncs.c).
    Supports LINESTRING/empty arguments — per motion segment, the
    parameter interval where the moving point lies on the line."""
    if not (tg_node.kind == "lit" and tg_node.littype == "tgeompoint"):
        raise _NotPy()
    wkt = _geom_arg_wkt(geom_node).strip()
    if re.search(r"(?i)\bempty\b", wkt):
        return ("tpoint_text", "NULL")
    typ, coords = wkt_mod.parse_wkt(wkt)
    if typ != "LINESTRING":
        raise _NotPy()
    val = textio.parse_temporal(tg_node.value, "point")
    lsegs = list(zip(coords, coords[1:]))

    def on_line_params(p0, p1):
        """Sub-intervals of [0,1] where p0+(p1-p0)s lies on the line."""
        out = []
        dx, dy = p1[0] - p0[0], p1[1] - p0[1]
        for c, d in lsegs:
            ex, ey = d[0] - c[0], d[1] - c[1]
            cross = dx * ey - dy * ex
            a0 = (p0[0] - c[0]) * ey - (p0[1] - c[1]) * ex
            a1 = (p1[0] - c[0]) * ey - (p1[1] - c[1]) * ex
            if abs(cross) < 1e-12 and abs(a0) < 1e-12 and abs(a1) < 1e-12:
                # collinear: overlap of projection parameters
                if abs(ex) >= abs(ey):
                    u0 = (p0[0] - c[0]) / ex if ex else 0.0
                    u1 = (p1[0] - c[0]) / ex if ex else 0.0
                else:
                    u0 = (p0[1] - c[1]) / ey if ey else 0.0
                    u1 = (p1[1] - c[1]) / ey if ey else 0.0
                du = u1 - u0
                if abs(du) < 1e-12:
                    if 0.0 <= u0 <= 1.0:
                        out.append((0.0, 1.0))
                    continue
                slo, shi = (0.0 - u0) / du, (1.0 - u0) / du
                if slo > shi:
                    slo, shi = shi, slo
                slo, shi = max(slo, 0.0), min(shi, 1.0)
                if slo <= shi:
                    out.append((slo, shi))
            elif abs(cross) >= 1e-12:
                # proper crossing at a single parameter
                s = a0 / (a0 - a1) if a0 != a1 else None
                if s is None or not (0.0 <= s <= 1.0):
                    continue
                px, py = p0[0] + dx * s, p0[1] + dy * s
                if abs(ex) >= abs(ey):
                    u = (px - c[0]) / ex if ex else 0.0
                else:
                    u = (py - c[1]) / ey if ey else 0.0
                if 0.0 <= u <= 1.0:
                    out.append((s, s))
        return out

    def merge(iv):
        iv = sorted(iv)
        out = []
        for lo, hi in iv:
            if out and lo <= out[-1][1] + 1e-12:
                out[-1] = (out[-1][0], max(out[-1][1], hi))
            else:
                out.append((lo, hi))
        return out

    new_seqs = []
    for seq in val["seqs"]:
        inst = seq["instants"]
        times = [i["t"] for i in inst]
        pts = [(i["v"]["x"], i["v"]["y"]) for i in inst]
        if len(inst) == 1:
            if on_line_params(pts[0], pts[0]):
                new_seqs.append(seq)
            continue
        # collect covered time intervals (as epoch floats) over segments
        ivs = []
        for k in range(len(inst) - 1):
            t0, t1 = times[k].timestamp(), times[k + 1].timestamp()
            for slo, shi in on_line_params(pts[k], pts[k + 1]):
                ivs.append((t0 + (t1 - t0) * slo, t0 + (t1 - t0) * shi))
        ivs = merge(ivs)
        if not ivs:
            continue
        full = (
            len(ivs) == 1
            and abs(ivs[0][0] - times[0].timestamp()) < 1e-6
            and abs(ivs[0][1] - times[-1].timestamp()) < 1e-6
        )
        if full:
            new_seqs.append(seq)
            continue
        # partial coverage: emit clipped subsequences with interpolated
        # boundary instants (closed bounds — MEOS restriction semantics)
        from datetime import datetime, timezone

        def at(ts_f):
            for k in range(len(inst) - 1):
                t0, t1 = times[k].timestamp(), times[k + 1].timestamp()
                if t0 - 1e-9 <= ts_f <= t1 + 1e-9:
                    if t1 == t0:
                        return inst[k]
                    s = (ts_f - t0) / (t1 - t0)
                    if s <= 1e-12:
                        return inst[k]
                    if s >= 1 - 1e-12:
                        return inst[k + 1]
                    return {
                        "t": datetime.fromtimestamp(ts_f, tz=timezone.utc),
                        "v": {
                            "x": pts[k][0] + (pts[k + 1][0] - pts[k][0]) * s,
                            "y": pts[k][1] + (pts[k + 1][1] - pts[k][1]) * s,
                        },
                    }
            raise ValueError("clip instant out of range")

        for lo, hi in ivs:
            mids = [
                i for i, tt in zip(inst, times)
                if lo + 1e-9 < tt.timestamp() < hi - 1e-9
            ]
            new_seqs.append(
                {
                    "lower_inc": True,
                    "upper_inc": True,
                    "instants": [at(lo)] + mids + ([at(hi)] if hi > lo else []),
                }
            )
    if not new_seqs:
        return ("tpoint_text", "NULL")
    out = dict(val)
    out["seqs"] = new_seqs
    if len(new_seqs) > 1:
        out["subtype"] = textio.SUBTYPE_SEQUENCESET
    return ("tpoint_text", textio.format_temporal(out, "point"))


def render_python(v) -> str:
    k, val = v
    if k == "stbox":
        return _render_stbox(val)
    if k == "geoset":
        return "{" + ", ".join(
            wkt_mod.wkb_hex(w) for w in val["vals"]
        ) + "}"
    if k == "geomval":
        return wkt_mod.wkb_hex(val)
    if k == "num":
        return textio.format_base(val, "float")
    if k == "float64":
        # scalar DOUBLE printed by duckdb (shortest round-trip)
        v = float(val)
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if k == "bool":
        return "true" if val else "false"
    if k == "tpoint_text" or k == "text":
        return str(val)
    return str(val)


from . import wkt as wkt_mod  # noqa: E402

"""DocETL output-schema DSL -> Spark types.

The reference declares operator output schemas with a tiny string DSL
(``string``, ``int``, ``list[{name: string}]``, ``enum[a,b,c]``; parser
``convert_val`` at reference docetl/operations/utils/validation.py:110-144).
We map it onto Spark ``DataType``s (SURVEY.md §1.2 table) and provide the
type-widening lattice used by in-flight schema evolution
(int -> long -> double; anything may become nullable; struct fields are
additive).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

_STRING_ALIASES = {"string", "str", "text", "varchar"}
_INT_ALIASES = {"integer", "int", "long", "bigint"}
_NUM_ALIASES = {"number", "float", "double", "decimal"}
_BOOL_ALIASES = {"boolean", "bool"}

_ENUM_RE = re.compile(r"^enum\[(.+)\]$")
_LIST_RE = re.compile(r"^list\[(.+)\]$", re.DOTALL)


class SchemaError(ValueError):
    pass


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(text: str) -> str:
    """A Python string as a SQL string literal. The SQL parser unescapes
    backslash sequences inside literals, so backslashes and quotes are
    escaped; every other character (newlines included) stands as is."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def parse_type(spec: str) -> T.DataType:
    """Parse one DSL type string into a Spark DataType.

    Mirrors the semantics (not the code) of the reference's ``convert_val``:
    scalar aliases, ``list[T]``, ``{k: T, ...}`` closed structs, ``enum[...]``
    (mapped to StringType — enum membership is a validation rule, not a
    storage type).
    """
    spec = spec.strip()
    low = spec.lower()
    if low in _STRING_ALIASES:
        return T.StringType()
    if low in _INT_ALIASES:
        return T.LongType()
    if low in _NUM_ALIASES:
        return T.DoubleType()
    if low in _BOOL_ALIASES:
        return T.BooleanType()
    m = _ENUM_RE.match(low)
    if m:
        return T.StringType()
    m = _LIST_RE.match(spec)
    if m:
        return T.ArrayType(parse_type(m.group(1)))
    if spec.startswith("{") and spec.endswith("}"):
        return T.StructType(
            [T.StructField(k, parse_type(v), nullable=True) for k, v in _split_struct(spec[1:-1])]
        )
    raise SchemaError(f"unsupported type spec: {spec!r}")


def enum_values(spec: str) -> list[str] | None:
    """Return allowed values if ``spec`` is an enum type, else None: the
    reference's ``enum[a, b, c]`` output type (validation.py:139-142)."""
    m = _ENUM_RE.match(spec.strip().lower())
    if not m:
        return None
    return [v.strip() for v in m.group(1).split(",")]


def _split_struct(body: str) -> list[tuple[str, str]]:
    """Split ``a: string, b: list[{c: int}]`` respecting bracket nesting."""
    fields: list[tuple[str, str]] = []
    depth = 0
    cur = []
    parts: list[str] = []
    for ch in body:
        if ch in "[{":
            depth += 1
        elif ch in "]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur))
    for part in parts:
        if ":" not in part:
            raise SchemaError(f"bad struct field: {part!r}")
        k, v = part.split(":", 1)
        fields.append((k.strip(), v.strip()))
    return fields


def parse_output_schema(schema: dict[str, str]) -> T.StructType:
    """Parse a DocETL ``output.schema`` dict into a StructType."""
    return T.StructType([T.StructField(k, parse_type(v), nullable=True) for k, v in schema.items()])


# ---------------------------------------------------------------------------
# Type-widening lattice for in-flight schema evolution (north rule).
# Legal promotions follow Iceberg's rules: int->long, int/long->double,
# float->double. Everything else must match exactly.
#
# The numeric lattice is a DIAMOND, not a chain: int < long < double and
# float < double, with long and float INCOMPARABLE (long->float truncates
# above 2^24; float->long drops fractions) — their least upper bound is
# double. A totally-ordered rank table would silently "widen" long->float.
# ---------------------------------------------------------------------------

_WIDEN_CHAIN = {"integer": 0, "long": 1, "double": 2}
_NUMERIC = {"integer", "long", "float", "double"}


def widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least upper bound of two types under the widening lattice.

    Raises SchemaError for incompatible pairs (e.g. string vs long) — a
    CDC batch carrying a truly conflicting type is a poison batch, not a
    silent cast.
    """
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _NUMERIC and bn in _NUMERIC:
        if "float" in (an, bn):
            # float vs anything-else-numeric -> double: double widens
            # float exactly, and float vs int/long is the diamond LUB
            # (neither side represents the other exactly). float==float
            # already returned at the a == b check above.
            return T.DoubleType()
        return a if _WIDEN_CHAIN[an] >= _WIDEN_CHAIN[bn] else b
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(widen(a.elementType, b.elementType), True)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return merge_schemas(a, b)
    raise SchemaError(f"incompatible types: {a.simpleString()} vs {b.simpleString()}")


def merge_schemas(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Additive + widening schema merge: the evolved table schema.

    New columns append (nullable); shared columns widen; column drops are
    NOT propagated (a CDC batch missing a column just writes nulls) — this
    matches Iceberg metadata-only ADD COLUMN evolution and the reference's
    additive ``{**item, **output}`` row merge (docetl/operations/map.py:414).
    """
    names = [f.name for f in current.fields]
    out = list(current.fields)
    for f in incoming.fields:
        if f.name in names:
            i = names.index(f.name)
            wide = widen(out[i].dataType, f.dataType)
            if wide != out[i].dataType:
                out[i] = T.StructField(f.name, wide, True)
        else:
            out.append(T.StructField(f.name, f.dataType, True))
            names.append(f.name)
    return T.StructType(out)

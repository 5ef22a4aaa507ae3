"""Mini-parser for function DDL.

The reference receives ``CREATE FUNCTION`` statements pre-parsed by
DataFusion's sqlparser and pulls out name / arg types / return type /
definition (/root/reference/wasmedge_factory/src/lib.rs:33-64). Spark SQL
has no pluggable ``FunctionFactory``, so this engine intercepts the DDL
string *before* ``spark.sql`` with a small regex-based parser producing the
same fields.

Grammar (case-insensitive)::

    CREATE [OR REPLACE] FUNCTION name ( [type [, type ...]] )
        RETURNS type
        [LANGUAGE word]
        AS 'module!method'

    DROP FUNCTION [IF EXISTS] name

Type names map onto ``pyspark.sql.types`` via :func:`parse_type`
(SURVEY §1.4); nesting (``ARRAY<...>``, ``MAP<...>``, ``DECIMAL(p,s)``)
is supported even though the reference only ever exercises ``DOUBLE``
(/root/reference/wasm_function/src/lib.rs:29-36).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

from .errors import FunctionDefinitionError

_CREATE_RE = re.compile(
    r"""^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?FUNCTION\s+
        (?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*
        # arg list: allow one nesting level of parens (DECIMAL(p,s))
        \(\s*(?P<args>(?:[^()]|\([^()]*\))*)\)\s*
        RETURNS\s+(?P<ret>.+?)\s*
        (?:LANGUAGE\s+(?P<lang>[A-Za-z_][A-Za-z0-9_]*)\s*)?
        AS\s+'(?P<definition>[^']*)'\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_DROP_RE = re.compile(
    r"""^\s*DROP\s+FUNCTION\s+(?P<if_exists>IF\s+EXISTS\s+)?
        (?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE,
)

# Leading keyword sniff: cheap test for whether a statement is engine DDL
# at all (so everything else goes straight to spark.sql untouched).
_SNIFF_RE = re.compile(
    r"^\s*(CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\b|DROP\s+FUNCTION\b"
    r"|CREATE\s+EXTERNAL\s+TABLE\b|COPY\s)",
    re.IGNORECASE,
)

# DataFusion-style external table DDL
# (CREATE EXTERNAL TABLE t STORED AS PARQUET LOCATION 'path'):
_EXTERNAL_TABLE_RE = re.compile(
    r"""^\s*CREATE\s+EXTERNAL\s+TABLE\s+(?P<if_not_exists>IF\s+NOT\s+EXISTS\s+)?
        (?P<name>[A-Za-z_][A-Za-z0-9_]*)\s+
        STORED\s+AS\s+(?P<format>[A-Za-z]+)\s*
        (?P<header>WITH\s+HEADER\s+ROW\s+)?
        LOCATION\s+'(?P<location>[^']+)'\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

# DataFusion-style COPY ... TO 'path' [STORED AS fmt]:
_COPY_TO_RE = re.compile(
    r"""^\s*COPY\s+(?P<source>\(.*\)|[A-Za-z_][A-Za-z0-9_]*)\s+
        TO\s+'(?P<location>[^']+)'\s*
        (?:STORED\s+AS\s+(?P<format>[A-Za-z]+))?\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_SIMPLE_TYPES: dict[str, T.DataType] = {
    "DOUBLE": T.DoubleType(),
    "FLOAT8": T.DoubleType(),
    "FLOAT": T.FloatType(),
    "REAL": T.FloatType(),
    "BIGINT": T.LongType(),
    "LONG": T.LongType(),
    "INT8": T.LongType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "INT4": T.IntegerType(),
    "SMALLINT": T.ShortType(),
    "INT2": T.ShortType(),
    "TINYINT": T.ByteType(),
    "INT1": T.ByteType(),
    "VARCHAR": T.StringType(),
    "STRING": T.StringType(),
    "TEXT": T.StringType(),
    "CHAR": T.StringType(),
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
    "BINARY": T.BinaryType(),
    "BYTEA": T.BinaryType(),
    "DECIMAL": T.DecimalType(10, 0),
    "NUMERIC": T.DecimalType(10, 0),
}

_DECIMAL_RE = re.compile(
    r"^(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)$", re.IGNORECASE
)
_VARCHAR_N_RE = re.compile(r"^(?:VARCHAR|CHAR)\s*\(\s*\d+\s*\)$", re.IGNORECASE)
_ARRAY_RE = re.compile(r"^ARRAY\s*<(.+)>$", re.IGNORECASE | re.DOTALL)
_MAP_RE = re.compile(r"^MAP\s*<(.+)>$", re.IGNORECASE | re.DOTALL)


def parse_type(name: str) -> T.DataType:
    """SQL type name → Spark ``DataType`` (SURVEY §1.4 mapping table)."""
    s = name.strip()
    if not s:
        raise FunctionDefinitionError("empty type name")
    m = _DECIMAL_RE.match(s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2) or 0))
    if _VARCHAR_N_RE.match(s):
        return T.StringType()
    m = _ARRAY_RE.match(s)
    if m:
        return T.ArrayType(parse_type(m.group(1)))
    m = _MAP_RE.match(s)
    if m:
        params = _split_args(m.group(1))
        if len(params) != 2:
            raise FunctionDefinitionError(
                f"expected two type parameters in {name!r}"
            )
        return T.MapType(parse_type(params[0]), parse_type(params[1]))
    dt = _SIMPLE_TYPES.get(s.upper())
    if dt is None:
        raise FunctionDefinitionError(f"unsupported type in function DDL: {name!r}")
    return dt


def _split_args(s: str) -> list[str]:
    out: list[str] = []
    depth = 0
    cur = ""
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur)
            cur = ""
        else:
            cur += ch
    if cur.strip():
        out.append(cur)
    return [a for a in out if a.strip()]


@dataclass(frozen=True)
class CreateFunctionStmt:
    """≙ the fields the reference factory extracts from DataFusion's
    ``CreateFunction`` statement (/root/reference/wasmedge_factory/src/lib.rs:38-52)."""

    name: str
    arg_types: tuple[T.DataType, ...]
    return_type: T.DataType
    definition: str
    language: str | None = None
    or_replace: bool = False
    raw: str = field(default="", compare=False)


@dataclass(frozen=True)
class DropFunctionStmt:
    name: str
    if_exists: bool = False
    raw: str = field(default="", compare=False)


@dataclass(frozen=True)
class CreateExternalTableStmt:
    """≙ DataFusion's ``CREATE EXTERNAL TABLE`` (part of the engine
    surface the reference inherits — SURVEY §2C sources row)."""

    name: str
    format: str  # parquet | csv | json | arrow
    location: str
    header: bool = False
    if_not_exists: bool = False
    raw: str = field(default="", compare=False)


@dataclass(frozen=True)
class CopyToStmt:
    """≙ DataFusion's ``COPY <table|(query)> TO 'path'``."""

    source: str  # table name or a parenthesized query
    location: str
    format: str = "parquet"
    raw: str = field(default="", compare=False)


def is_function_ddl(sql: str) -> bool:
    return bool(_SNIFF_RE.match(sql))


EngineStmt = (
    CreateFunctionStmt | DropFunctionStmt | CreateExternalTableStmt | CopyToStmt
)


def parse_function_ddl(sql: str) -> EngineStmt:
    """Parse a statement already sniffed as engine DDL."""
    m = _EXTERNAL_TABLE_RE.match(sql)
    if m:
        fmt = m.group("format").lower()
        if fmt not in ("parquet", "csv", "json", "arrow", "orc"):
            raise FunctionDefinitionError(
                f"unsupported external table format: {fmt!r}"
            )
        return CreateExternalTableStmt(
            name=m.group("name").lower(),
            format=fmt,
            location=m.group("location"),
            header=bool(m.group("header")),
            if_not_exists=bool(m.group("if_not_exists")),
            raw=sql,
        )
    m = _COPY_TO_RE.match(sql)
    if m:
        fmt = (m.group("format") or "parquet").lower()
        if fmt not in ("parquet", "csv", "json", "arrow", "orc"):
            raise FunctionDefinitionError(f"unsupported COPY format: {fmt!r}")
        return CopyToStmt(
            source=m.group("source"),
            location=m.group("location"),
            format=fmt,
            raw=sql,
        )
    m = _CREATE_RE.match(sql)
    if m:
        args = tuple(parse_type(a) for a in _split_args(m.group("args")))
        # return type is mandatory, ≙ expect("return type expected")
        # (/root/reference/wasmedge_factory/src/lib.rs:38)
        ret = parse_type(m.group("ret"))
        return CreateFunctionStmt(
            name=m.group("name").lower(),
            arg_types=args,
            return_type=ret,
            definition=m.group("definition"),
            language=(m.group("lang") or "").lower() or None,
            or_replace=bool(m.group("replace")),
            raw=sql,
        )
    m = _DROP_RE.match(sql)
    if m:
        return DropFunctionStmt(
            name=m.group("name").lower(),
            if_exists=bool(m.group("if_exists")),
            raw=sql,
        )
    raise FunctionDefinitionError(f"malformed engine DDL: {sql!r}")


def split_definition(definition: str) -> tuple[str, str]:
    """``'module!method'`` → ``(module, method)``.

    ≙ ``WasmFunctionFactory::wasm_module_function``
    (/root/reference/wasmedge_factory/src/lib.rs:102-109): both parts must
    be non-empty; anything else is an error (unit-pinned by
    ``test_module_function_split``, lib.rs:166-173).
    """
    module, sep, method = definition.partition("!")
    if not sep or not module or not method:
        raise FunctionDefinitionError(
            f"invalid function definition {definition!r}: expected 'module!method'"
        )
    return module, method

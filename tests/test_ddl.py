"""Unit tests for the DDL mini-parser.

Ports ``test_module_function_split``
(/root/reference/wasmedge_factory/src/lib.rs:166-173) and pins the
type-name mapping from SURVEY §1.4.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from wasaffi_spark.ddl import (
    CreateFunctionStmt,
    DropFunctionStmt,
    is_function_ddl,
    parse_function_ddl,
    parse_type,
    split_definition,
)
from wasaffi_spark.errors import FunctionDefinitionError


def test_module_function_split():
    # ≙ lib.rs:166-173
    assert split_definition("module!method") == ("module", "method")
    assert split_definition("a/b/c.wasm!f1") == ("a/b/c.wasm", "f1")
    for bad in ("!method", "module!", "module", ""):
        with pytest.raises(FunctionDefinitionError):
            split_definition(bad)


def test_parse_create_function():
    stmt = parse_function_ddl(
        "CREATE FUNCTION f1(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM "
        "AS 'fixtures/udfs.py!f1'"
    )
    assert isinstance(stmt, CreateFunctionStmt)
    assert stmt.name == "f1"
    assert stmt.arg_types == (T.DoubleType(), T.DoubleType())
    assert stmt.return_type == T.DoubleType()
    assert stmt.language == "wasm"
    assert stmt.definition == "fixtures/udfs.py!f1"
    assert not stmt.or_replace


def test_parse_create_without_language():
    # the reference factory never checks LANGUAGE (lib.rs:33-64)
    stmt = parse_function_ddl(
        "create function g(bigint) returns string as 'mod.py!g';"
    )
    assert stmt.name == "g"
    assert stmt.language is None
    assert stmt.arg_types == (T.LongType(),)
    assert stmt.return_type == T.StringType()


def test_parse_zero_arg_and_or_replace():
    stmt = parse_function_ddl(
        "CREATE OR REPLACE FUNCTION now_ish() RETURNS TIMESTAMP AS 'm.py!f'"
    )
    assert stmt.or_replace
    assert stmt.arg_types == ()


def test_parse_drop():
    stmt = parse_function_ddl("DROP FUNCTION f1")
    assert isinstance(stmt, DropFunctionStmt)
    assert stmt.name == "f1" and not stmt.if_exists
    stmt = parse_function_ddl("drop function if exists F1;")
    assert stmt.name == "f1" and stmt.if_exists


def test_sniff():
    assert is_function_ddl("CREATE FUNCTION x() RETURNS INT AS 'a!b'")
    assert is_function_ddl("  drop function x")
    assert not is_function_ddl("select create_function from t")
    assert not is_function_ddl("CREATE TABLE t (a INT)")
    assert not is_function_ddl("SELECT 1")


def test_missing_return_type_is_error():
    # return type is mandatory (≙ expect("return type expected"), lib.rs:38)
    with pytest.raises(FunctionDefinitionError):
        parse_function_ddl("CREATE FUNCTION f(DOUBLE) AS 'm.py!f'")


@pytest.mark.parametrize(
    "name,expected",
    [
        ("DOUBLE", T.DoubleType()),
        ("double", T.DoubleType()),
        ("FLOAT", T.FloatType()),
        ("REAL", T.FloatType()),
        ("BIGINT", T.LongType()),
        ("INT", T.IntegerType()),
        ("INTEGER", T.IntegerType()),
        ("SMALLINT", T.ShortType()),
        ("TINYINT", T.ByteType()),
        ("VARCHAR", T.StringType()),
        ("VARCHAR(20)", T.StringType()),
        ("STRING", T.StringType()),
        ("BOOLEAN", T.BooleanType()),
        ("DATE", T.DateType()),
        ("TIMESTAMP", T.TimestampType()),
        ("BINARY", T.BinaryType()),
        ("DECIMAL(12,2)", T.DecimalType(12, 2)),
        ("DECIMAL", T.DecimalType(10, 0)),
        ("ARRAY<DOUBLE>", T.ArrayType(T.DoubleType())),
        ("ARRAY<ARRAY<INT>>", T.ArrayType(T.ArrayType(T.IntegerType()))),
        ("MAP<STRING, BIGINT>", T.MapType(T.StringType(), T.LongType())),
    ],
)
def test_parse_type(name, expected):
    assert parse_type(name) == expected


def test_parse_type_unknown():
    for name in ("GEOMETRY", "MAP<INT, INT, INT>"):
        with pytest.raises(FunctionDefinitionError):
            parse_type(name)

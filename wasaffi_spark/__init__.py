"""wasaffi_spark — a PySpark-native analytics engine with runtime-registered,
Arrow-vectorized user-defined functions, modeled on milenkovicm/wasaffi
(DataFusion WASM UDFs) but built Spark-first: Catalyst supplies the
relational engine; this package supplies the DDL surface, pluggable
function factories, module caching, coercion, and the error protocol.
"""

from .ddl import CreateFunctionStmt, DropFunctionStmt, parse_function_ddl, split_definition
from .engine import Engine
from .errors import (
    FunctionDefinitionError,
    ModuleLoadError,
    WasmFunctionError,
    WasmInvocationError,
    WasmInvocationPanic,
)
from .factory import FunctionSpec, PythonModuleFunctionFactory
from .registry import FunctionRegistry

__version__ = "0.1.0"

__all__ = [
    "Engine",
    "CreateFunctionStmt",
    "DropFunctionStmt",
    "parse_function_ddl",
    "split_definition",
    "FunctionRegistry",
    "FunctionSpec",
    "PythonModuleFunctionFactory",
    "WasmFunctionError",
    "FunctionDefinitionError",
    "ModuleLoadError",
    "WasmInvocationError",
    "WasmInvocationPanic",
]

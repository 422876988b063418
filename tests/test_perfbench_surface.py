"""The program surface the benchmark drives still exists.

``perfbench`` imports program modules and reads their attributes, and its
traced run wraps module attributes by name (``Tracer.wrap`` looks each one
up with ``getattr``), so a program change that deletes or renames one of
them breaks the benchmark only when it runs.  This test reads the
benchmark's sources, without importing or changing them, and resolves
every such name against the program."""

import ast
import importlib
from pathlib import Path

import pytest

pytestmark = pytest.mark.etl

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"
PACKAGE = "nemsis_xml_parser_spark"


def _uses(tree: ast.Module):
    """(module, attribute) of every program name a benchmark source uses:
    the names it imports from the program, ``module.name`` reads of an
    imported program module, and the string names given to ``wrap``."""
    modules = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            for alias in node.names:
                local = alias.asname or alias.name
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                    modules[local] = f"{node.module}.{alias.name}"
                except ModuleNotFoundError:
                    yield node.module, alias.name
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in modules):
            yield modules[node.value.id], node.attr
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "wrap" and len(node.args) >= 2
                and isinstance(node.args[0], ast.Name) and node.args[0].id in modules
                and isinstance(node.args[1], ast.Constant)):
            yield modules[node.args[0].id], node.args[1].value


SOURCES = sorted(PERFBENCH.glob("*.py"))


@pytest.mark.parametrize("source", SOURCES, ids=[p.name for p in SOURCES])
def test_every_program_name_the_benchmark_uses_resolves(source):
    uses = set(_uses(ast.parse(source.read_text())))
    missing = sorted((m, a) for m, a in uses
                     if not hasattr(importlib.import_module(m), a))
    assert not missing


def test_the_workloads_use_the_ingest_and_sink_modules():
    uses = {(m.rsplit(".", 1)[-1], a)
            for m, a in _uses(ast.parse((PERFBENCH / "workloads.py").read_text()))}
    assert {("bookkeeping", "ingest_xml_files"), ("flatten", "flatten_xml_files"),
            ("warehouse", "table_frame"), ("catalog", "list_table_dirs"),
            ("jdbc_sink", "stage_to_jdbc_distributed"),
            ("warehouse", "attribute_columns_per_table")} <= uses

"""The persisted indexes share one commit path (sources/ann_index.py):
version claims, manifest publishes and the streaming sink each have a
single implementation, not one copy per index kind. A source scan, no
Spark session."""

from __future__ import annotations

import ast
import pathlib

ANN_INDEX = (
    pathlib.Path(__file__).resolve().parents[1]
    / "nrg_etl_airflow_spark_emr_spark"
    / "sources"
    / "ann_index.py"
)


def _call_sites(tree: ast.AST, name: str) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == name
    ]


def test_one_commit_path_for_every_index_kind():
    """At most two call sites each of _publish( and _next_version(, and
    at most one .writeStream. Docstrings and def lines are not code, so the
    syntax tree is scanned, not the text."""
    tree = ast.parse(ANN_INDEX.read_text())
    for name in ("_publish", "_next_version"):
        sites = _call_sites(tree, name)
        assert len(sites) <= 2, f"{name}( called at lines {sites}"
    streams = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "writeStream"
    ]
    assert len(streams) <= 1, f".writeStream at lines {streams}"

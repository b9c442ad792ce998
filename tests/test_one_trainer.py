"""Every quantized k-means in the package runs through one trainer and
one argmin: kmeans.lloyd_fit_grouped_quantized and kmeans.pq_assign on
the Spark side, similarity._pq_trainer_parts on the oracle side. A
source scan, no Spark session."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "nrg_etl_airflow_spark_emr_spark"
KMEANS = PACKAGE / "operators" / "kmeans.py"
SQL_FLOOR_MEAN = "((s % n) + n) % n"


def _units(tree: ast.Module):
    """(name, node) per top-level statement: a def is named by itself,
    anything else by its line."""
    for node in tree.body:
        name = getattr(node, "name", None) or f"<line {node.lineno}>"
        yield name, node


def _is_f_call(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _is_floor_mod(node: ast.AST) -> bool:
    """``... % F.col("n")``: the Spark floor-integer mean's remainder."""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mod)
        and _is_f_call(node.right, "col")
        and [a.value for a in node.right.args if isinstance(a, ast.Constant)] == ["n"]
    )


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _units_matching(tree: ast.Module, pred) -> list[str]:
    return [
        name for name, unit in _units(tree) if any(pred(n) for n in ast.walk(unit))
    ]


def test_kmeans_has_one_argmin_and_one_mean():
    tree = ast.parse(KMEANS.read_text())
    argmins = _units_matching(tree, lambda n: _is_f_call(n, "array_min"))
    assert len(argmins) <= 1, f"F.array_min( in {argmins}"
    means = _units_matching(tree, _is_floor_mod)
    assert len(means) <= 1, f'% F.col("n") in {means}'
    defs = [n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    assert "_assign" not in defs


def test_package_emits_the_sql_floor_mean_once():
    """Docstrings are not SQL, so string constants are scanned, not text."""
    emitters = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        emitters += [
            f"{path.relative_to(PACKAGE)}:{name}"
            for name in _units_matching(
                tree,
                lambda n: isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docs
                and SQL_FLOOR_MEAN in n.value,
            )
        ]
    assert len(emitters) <= 1, f"{SQL_FLOOR_MEAN} emitted by {emitters}"

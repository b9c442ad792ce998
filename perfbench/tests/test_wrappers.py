"""The layer wrappers replace every binding of a wrapped function and put
every one back after a traced pass, also when the pass fails."""

import importlib
import sys
import types

import pytest

import workloads as wl
from spans import LayerWrappers


def fake_package(monkeypatch):
    def load_table(x):
        return x + 1

    pkg = types.ModuleType("fakepkg")
    tables = types.ModuleType("fakepkg.tables")
    user = types.ModuleType("fakepkg.user")
    other = types.ModuleType("otherpkg")
    tables.load_table = load_table
    user.load_table = load_table            # ``from .tables import load_table``
    user.alias = load_table
    other.load_table = load_table           # outside the package: left alone
    for m in (pkg, tables, user, other):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    return load_table, tables, user, other


def test_wraps_every_binding_and_restores(monkeypatch):
    original, tables, user, other = fake_package(monkeypatch)
    calls = []

    def on_call(name, fn, args, kwargs):
        calls.append(name)
        return fn(*args, **kwargs)

    w = LayerWrappers("fakepkg", {"load_table": ("fakepkg.tables", "load_table")}, on_call)
    w.install()
    assert tables.load_table is not original and user.alias is not original
    assert other.load_table is original
    assert user.load_table(1) == 2 and calls == ["load_table"]
    with pytest.raises(RuntimeError):
        w.install()
    w.restore()
    assert tables.load_table is original and user.load_table is original and user.alias is original
    assert user.load_table(1) == 2 and calls == ["load_table"]


def test_program_layer_functions_are_restored():
    modules = {mod for mod, _attr in wl.LAYER_FUNCTIONS.values()}
    for mod in modules | {f"{wl.PACKAGE}.pipelines.nrg", f"{wl.PACKAGE}.operators.tpch"}:
        importlib.import_module(mod)

    def bindings():
        return {(name, attr): value
                for name, m in list(sys.modules.items()) if name.startswith(wl.PACKAGE)
                for attr, value in vars(m).items()
                if any(value is getattr(sys.modules[d], a) for d, a in wl.LAYER_FUNCTIONS.values())}

    before = bindings()
    assert (f"{wl.PACKAGE}.pipelines.nrg", "write_partitioned_parquet") in before
    w = LayerWrappers(wl.PACKAGE, wl.LAYER_FUNCTIONS, lambda n, fn, a, k: fn(*a, **k))
    w.install()
    nrg = sys.modules[f"{wl.PACKAGE}.pipelines.nrg"]
    assert hasattr(nrg.write_partitioned_parquet, "__wrapped_layer__")
    w.restore()
    assert bindings() == before


def test_traced_pass_restores_wrappers_when_an_operation_fails(tmp_path):
    import run

    class Stats:
        listening = False

        def listen_plans(self):
            self.listening = True

        def unlisten_plans(self):
            self.listening = False

    args = types.SimpleNamespace(workload="catalog-sql", seed=1, seconds=1, trace=1)
    bench = run.Bench(args, 1, str(tmp_path), str(tmp_path))
    bench.stats = Stats()
    bench.wrappers = LayerWrappers(wl.PACKAGE, wl.LAYER_FUNCTIONS, bench.on_layer_call)
    tables = importlib.import_module(f"{wl.PACKAGE}.sources.tables")
    original = tables.load_table

    def failing_op(name, traced):
        assert tables.load_table is not original and bench.stats.listening
        raise RuntimeError("boom")

    bench.run_op = failing_op
    with pytest.raises(RuntimeError):
        bench.run_pass(["q1_pricing_summary"], "traced")
    assert tables.load_table is original
    assert not bench.stats.listening and not bench.wrappers.patched

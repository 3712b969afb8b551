"""Frozen-surface guard: every name the package exports, and every
``gpq_tiles_spark`` import in the frozen callers (bench, entry point,
scripts, perfbench), still resolves, and the call shapes ``bench.py`` uses
still bind. A deletion that leaves a stale export or breaks a frozen
caller fails here, before any Spark job runs."""

import ast
import glob
import importlib
import inspect
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FROZEN_CALLERS = sorted(
    [os.path.join(ROOT, f) for f in
     ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    + glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py")))


def _package_imports():
    """(caller, module, name) for every ``from gpq_tiles_spark... import
    name`` and (caller, module, None) for every ``import gpq_tiles_spark...``
    in the frozen callers."""
    out = []
    for path in FROZEN_CALLERS:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        rel = os.path.relpath(path, ROOT)
        for node in ast.walk(tree):
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == "gpq_tiles_spark"):
                out += [(rel, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                out += [(rel, a.name, None) for a in node.names
                        if a.name.split(".")[0] == "gpq_tiles_spark"]
    return out


IMPORTS = _package_imports()


def test_frozen_callers_found():
    assert len(FROZEN_CALLERS) >= 5
    assert any(m == "gpq_tiles_spark.pipeline" and n == "convert_sharded"
               for _, m, n in IMPORTS)


def test_lazy_exports_resolve():
    import gpq_tiles_spark

    missing = [n for n in gpq_tiles_spark.__all__
               if not hasattr(gpq_tiles_spark, n)]
    assert missing == []


@pytest.mark.parametrize(
    "caller,module,name", IMPORTS,
    ids=[f"{c}:{m}.{n or ''}" for c, m, n in IMPORTS])
def test_frozen_import_resolves(caller, module, name):
    mod = importlib.import_module(module)
    if name is not None and not hasattr(mod, name):
        importlib.import_module(f"{module}.{name}")  # a submodule


def test_bench_call_shapes_bind():
    from gpq_tiles_spark import pipeline as PL

    feats = records = props = cfg = out_path = object()
    cores = 4
    inspect.signature(PL.convert_sharded).bind(feats, out_path, cfg)
    inspect.signature(PL.encode_tiles_premerge).bind(feats, cfg, 2 * cores)
    inspect.signature(PL.encode_tiles_with_props).bind(
        records, props, cfg, by_range=False)
    inspect.signature(PL.fanout_records).bind(feats, cfg)
    inspect.signature(PL.encode_props_column).bind(feats, ["name", "pop"])

"""Every test module must import.

The tier-1 suite runs with ``--continue-on-collection-errors``, so a test
module that fails to import (say, it still imports a deleted name) drops
out of the run without failing it. This test turns that into a failure
that names the module.
"""

import importlib
from pathlib import Path


def test_every_test_module_imports():
    broken = {}
    for path in sorted(Path(__file__).resolve().parent.glob("test_*.py")):
        try:
            importlib.import_module(path.stem)
        except Exception as e:
            broken[path.name] = f"{type(e).__name__}: {e}"
    assert not broken, f"test modules that do not import: {broken}"


def test_benchmark_package_imports_resolve():
    """Every name an entry point imports from the package must exist, and
    every call an entry point makes to such a name must bind to its
    signature: perfbench, ``bench.py``, ``__spark_entry__.py``, ``jobs/``
    and ``tools/`` are not test modules, and most of their imports sit
    inside functions, so a deleted or renamed name or keyword would break
    them while the suite stays green (for perfbench, only as a failed
    benchmark run). A call's positional count and keyword names go
    through ``inspect.signature(fn).bind``; a call that forwards
    ``*args`` or ``**kwargs`` is skipped."""
    import ast
    import inspect

    root = Path(__file__).resolve().parent.parent
    entry_points = [
        *sorted((root / "perfbench").glob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
        *sorted((root / "jobs").glob("*.py")),
        *sorted((root / "tools").glob("*.py")),
    ]
    missing, unbound = [], []
    for path in entry_points:
        tree = ast.parse(path.read_text())
        imported = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "podcast_audio_feature_extraction_spark"
            ):
                module = importlib.import_module(node.module)
                for a in node.names:
                    try:  # a name of the module, or one of its submodules
                        obj = getattr(module, a.name, None) or importlib.import_module(f"{node.module}.{a.name}")
                    except ImportError:
                        missing.append(f"{path.relative_to(root)}: {node.module}.{a.name}")
                    else:
                        imported[a.asname or a.name] = obj
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                fn = imported.get(f.id)
            elif isinstance(f, ast.Attribute) and inspect.ismodule(imported.get(getattr(f.value, "id", None))):
                fn = getattr(imported[f.value.id], f.attr, None)
            else:
                continue
            forwards = any(isinstance(a, ast.Starred) for a in node.args) or any(k.arg is None for k in node.keywords)
            if not inspect.isfunction(fn) or forwards:
                continue
            try:
                inspect.signature(fn).bind(*node.args, **{k.arg: None for k in node.keywords})
            except TypeError as e:
                unbound.append(f"{path.relative_to(root)}:{node.lineno}: {ast.unparse(f)}: {e}")
    assert not missing, f"entry points import names the package lacks: {missing}"
    assert not unbound, f"entry-point calls that do not bind to the package's signatures: {unbound}"


def test_every_api_name_has_a_caller_outside_tests():
    """Every name the package exports through ``_API`` is used somewhere
    a query, bench row or job runs: the package itself (the name's own
    ``def`` excluded), ``bench.py``, ``__spark_entry__.py``, ``jobs/``,
    ``tools/`` or ``perfbench/``. A name only tests call is test-only
    product surface, which the project deletes."""
    import ast

    import podcast_audio_feature_extraction_spark as pkg

    root = Path(__file__).resolve().parent.parent
    sources = [
        *sorted((root / "podcast_audio_feature_extraction_spark").rglob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
        *sorted((root / "jobs").glob("*.py")),
        *sorted((root / "tools").glob("*.py")),
        *sorted((root / "perfbench").glob("*.py")),
    ]
    used = set()

    def visit(node, inside):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside = inside | {node.name}
        elif isinstance(node, ast.Name) and node.id not in inside:
            used.add(node.id)
        elif isinstance(node, ast.Attribute) and node.attr not in inside:
            used.add(node.attr)
        for child in ast.iter_child_nodes(node):
            visit(child, inside)

    for path in sources:
        visit(ast.parse(path.read_text()), frozenset())
    uncalled = sorted(name for name in pkg._API if name not in used)
    assert not uncalled, f"_API names with no caller outside tests/: {uncalled}"

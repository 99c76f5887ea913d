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
    """Every name an entry point imports from the package must exist:
    perfbench, ``bench.py``, ``__spark_entry__.py``, ``jobs/`` and
    ``tools/`` are not test modules, and most of their imports sit inside
    functions, so a deleted or renamed name would break them while the
    suite stays green."""
    import ast

    root = Path(__file__).resolve().parent.parent
    entry_points = [
        *sorted((root / "perfbench").glob("*.py")),
        root / "bench.py",
        root / "__spark_entry__.py",
        *sorted((root / "jobs").glob("*.py")),
        *sorted((root / "tools").glob("*.py")),
    ]
    missing = []
    for path in entry_points:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "podcast_audio_feature_extraction_spark"
            ):
                module = importlib.import_module(node.module)
                missing += [
                    f"{path.relative_to(root)}: {node.module}.{a.name}"
                    for a in node.names
                    if not hasattr(module, a.name)
                ]
    assert not missing, f"entry points import names the package lacks: {missing}"
